package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CharEntropy

/** The codegen char-entropy expression: closed-form parity with a naive
  * HashMap recomputation over arbitrary Unicode (surrogate pairs count as
  * one codepoint), the open-address table's growth path, the empty-string
  * contract, and the registered SQL surface through codegen. */
class CharEntropySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Deterministic scalacheck sampling (the RoundTripPropertySpec idiom —
    * no scalatestplus bridge in the offline cache). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def naive(s: String): (Long, Long, Double) = {
    val cps = s.codePoints().toArray
    val counts = cps.groupBy(identity).view.mapValues(_.length).toMap
    val n = cps.length.toDouble
    val h =
      if (cps.isEmpty) Double.NaN
      else counts.values.map(c => -(c / n) * (math.log(c / n) / math.log(2))).sum
    (counts.size.toLong, cps.length.toLong, h)
  }

  private def profile(s: String): (Long, Long, Double) = {
    val r = CharEntropy.profile(UTF8String.fromString(s))
    (r.getLong(0), r.getLong(1), r.getDouble(2))
  }

  test("matches the naive recomputation on arbitrary Unicode strings") {
    // mixes ASCII, BMP, and supplementary-plane codepoints (surrogates)
    val cpGen = Gen.oneOf(
      Gen.choose(32, 126),            // ASCII
      Gen.choose(0xAC00, 0xAC10),     // Hangul syllables
      Gen.choose(0x1F300, 0x1F310))   // supplementary plane (emoji block)
    val strGen = Gen.listOf(cpGen).map(_.flatMap(Character.toChars(_).toSeq).mkString)
    val cases = samples(strGen, 200)
    assert(cases.nonEmpty)
    cases.foreach { s =>
      val (gk, gn, gh) = profile(s)
      val (nk, nn, nh) = naive(s)
      assert(gk == nk && gn == nn, s"counts for ${s.take(40)}")
      if (nn == 0) assert(gh.isNaN)
      else assert(math.abs(gh - nh) < 1e-9, s"entropy $gh vs $nh")
    }
  }

  test("table growth: strings with hundreds of distinct codepoints stay exact") {
    // 500 distinct codepoints forces several open-address table doublings
    val s = (0x4E00 until 0x4E00 + 500).flatMap(Character.toChars(_).toSeq).mkString
    val (k, n, h) = profile(s + s) // every codepoint twice
    assert(k == 500 && n == 1000)
    assert(math.abs(h - (math.log(500.0) / math.log(2.0))) < 1e-9,
      "uniform distribution must hit log2(distinct) exactly")
  }

  test("degenerate inputs: empty is (0,0,NaN); single-char runs are 0 bits") {
    val (k0, n0, h0) = profile("")
    assert(k0 == 0 && n0 == 0 && h0.isNaN)
    val (k1, n1, h1) = profile("aaaaaaaa")
    assert(k1 == 1 && n1 == 8 && h1 == 0.0)
  }

  test("registered SQL surface agrees with the static helper under codegen") {
    import spark.implicits._
    val rows = Seq("abab", "abcd", "🌀🌀x").toDF("s")
      .selectExpr("char_entropy(s) AS p")
      .selectExpr("p.n_distinct_chars", "p.n_chars", "p.entropy_bits")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows(0) == ((2L, 4L, 1.0)))
    assert(rows(1) == ((4L, 4L, 2.0)))
    // the 2-codepoint emoji string: surrogate pair counts once
    assert(rows(2)._1 == 2L && rows(2)._2 == 3L)
  }
}
