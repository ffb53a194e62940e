package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** The native `minhash_bands` kernel must agree bit-for-bit with the
  * relational formulation it replaced — explode the shingles, one md5
  * prefix per shingle, the affine `min` per hash index, the md5 of each
  * band's `|`-joined decimal minhashes — at both signature-store
  * geometries, and be reachable from SQL. */
class MinHashBandsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  /** The reference: (doc_id, mh, sig_arr) from explode + group-by
    * relational operators only, written out independently of the kernel
    * (the same steps the DuckDB oracle spells out). Docs without a
    * shingle drop out at the explode. */
  private def reference(docs: DataFrame, k: Int, bands: Int, rows: Int): DataFrame = {
    import spark.implicits._
    val coeffs = Dedup.affineCoeffs(bands * rows).zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }.toDF("i", "a", "b")
    val mh = docs.select(col("doc_id"), explode(Dedup.shingleSetK(k)).as("s"))
      .select(col("doc_id"),
        conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long").as("h"))
      .crossJoin(broadcast(coeffs))
      .groupBy("doc_id", "i")
      .agg(min((col("a") * col("h") + col("b")) % Dedup.HashMod).as("m"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("im"))
      .select(col("doc_id"), transform(col("im"), _.getField("m")).as("mh"))
    mh.select(col("doc_id"), col("mh"), array((0 until bands).map(b =>
      md5(concat_ws("|", slice(col("mh"), b * rows + 1, rows).cast("array<string>")))): _*)
      .as("sig_arr"))
  }

  /** (doc_id, mh, sig_arr) from the kernel, empty-set docs dropped. */
  private def kernel(docs: DataFrame, k: Int, bands: Int, rows: Int): DataFrame =
    docs.select(col("doc_id"),
        call_function("minhash_bands", Dedup.shingleSetK(k), lit(bands), lit(rows)).as("m"))
      .filter(col("m").isNotNull)
      .select(col("doc_id"), col("m.mh"), col("m.sig_arr"))

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() == b.count(), "row counts differ")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  private def docs = Tables.documents(spark, sf).select("doc_id", "text")

  test("kernel matches the explode + affine min + band md5 reference at k=1, 8x16") {
    assertSame(kernel(docs, 1, 8, 16), reference(docs, 1, 8, 16))
  }

  test("kernel matches the explode + affine min + band md5 reference at k=2, 32x4") {
    val got = kernel(docs, 2, 32, 4)
    assert(got.filter(size(col("sig_arr")) =!= 32 || size(col("mh")) =!= 128).isEmpty)
    assertSame(got, reference(docs, 2, 32, 4))
  }

  test("golden lines: Hangul, repeated tokens, the empty token, a one-token k=2 doc") {
    import spark.implicits._
    val golden = Seq(
      (1L, "한국어 텍스트 중복 검사"),
      (2L, "a a a b b"),   // repeated tokens: the shingle SET {a, b}
      (3L, "x  y"),        // a double space: the "" token is a shingle
      (4L, "solo")         // one token: no 2-gram, so no k=2 signature
    ).toDF("doc_id", "text")
    assertSame(kernel(golden, 1, 8, 16), reference(golden, 1, 8, 16))
    assertSame(kernel(golden, 2, 32, 4), reference(golden, 2, 32, 4))
    // pinned values, computed outside Spark with Python's hashlib over
    // the same formulas: (mh[0], mh[127], sig_arr[0], sig_arr[last])
    def pin(k: Int, bands: Int, rows: Int): Map[Long, Row] =
      kernel(golden, k, bands, rows).collect().map(r => r.getLong(0) -> Row(
        r.getSeq[Long](1).head, r.getSeq[Long](1).last,
        r.getSeq[String](2).head, r.getSeq[String](2).last)).toMap
    assert(pin(1, 8, 16) == Map(
      1L -> Row(1394537252L, 356664834L,
        "55dee1ab6c34bccd60ca4323e0b60f16", "b110091f54a5164a3d857f732adf5e79"),
      2L -> Row(1406094987L, 542864750L,
        "30697c41192f3683aa74ad92fd81b107", "023a896df667e54c16db4ffe53b09727"),
      3L -> Row(48243443L, 7054689L,
        "643cb86a08ef94c5af448ac07bb3bc2f", "5a37028da6fe6e9f4ae795203395e603"),
      4L -> Row(1121131894L, 596427268L,
        "8ea3af38fed98d0d174de6190527a326", "257671858deabb233d33bd20fa61883b")))
    val k2 = pin(2, 32, 4)
    assert(k2.keySet == Set(1L, 2L, 3L), "the one-token doc must have no k=2 signature")
    assert(k2(3L) == Row(18834689L, 94457166L,
      "52712dc80125f2487091a4e3a01d7ef6", "3d895816cdf77ffec36d9daf4d7685c4"))
  }

  test("null and empty shingle sets yield null") {
    val r = spark.sql(
      """SELECT minhash_bands(CAST(NULL AS ARRAY<STRING>), 8, 16) AS n,
        |       minhash_bands(CAST(array() AS ARRAY<STRING>), 8, 16) AS e,
        |       minhash_bands(array(CAST(NULL AS STRING)), 8, 16) AS only_null""".stripMargin)
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("registered through the session extensions: reachable from SQL") {
    val r = spark.sql("SELECT minhash_bands(array('a', 'b'), 2, 4) AS m").head()
      .getStruct(0)
    assert(r.getSeq[Long](0).size == 8 && r.getSeq[String](1).size == 2)
    assert(r.getSeq[String](1).forall(_.matches("[0-9a-f]{32}")))
  }

  test("type check rejects a non-string array and non-literal geometry") {
    val bad = intercept[Exception] {
      spark.sql("SELECT minhash_bands(array(1, 2), 8, 16)").collect()
    }
    assert(bad.getMessage.contains("minhash_bands"), bad.getMessage)
    val dynamic = intercept[Exception] {
      spark.range(1).selectExpr("minhash_bands(array('a'), CAST(id AS INT) + 1, 16)").collect()
    }
    assert(dynamic.getMessage.contains("foldable"), dynamic.getMessage)
  }

  test("interpreted eval equals the generated code") {
    val generated = kernel(docs, 1, 8, 16)
    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = kernel(
      Tables.documents(interp, sf).select("doc_id", "text"), 1, 8, 16).collect()
    val codegen = generated.collect()
    assert(codegen.length == interpreted.length)
    assert(codegen.map(_.toString).sorted.sameElements(interpreted.map(_.toString).sorted))
  }
}
