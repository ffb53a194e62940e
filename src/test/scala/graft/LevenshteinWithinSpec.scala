package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.LevenshteinWithin

/** The bit-parallel metric must agree with the engine's standard
  * Levenshtein everywhere: ASCII fast path, non-ASCII fallback, and the
  * -1-above-threshold contract of the threshold form. */
class LevenshteinWithinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ref(a: String, b: String): Int =
    UTF8String.fromString(a).levenshteinDistance(UTF8String.fromString(b))

  private def within(a: String, b: String, k: Int): Int =
    LevenshteinWithin.dist(UTF8String.fromString(a), UTF8String.fromString(b), k)

  test("matches the standard metric on deterministic pseudo-random ASCII strings") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abcde"
    def s(): String =
      Seq.fill(rnd.nextInt(20))(alphabet(rnd.nextInt(alphabet.length))).mkString
    (1 to 2000).foreach { _ =>
      val (a, b) = (s(), s())
      val d = ref(a, b)
      val k = rnd.nextInt(8)
      val got = within(a, b, k)
      assert(got == (if (d <= k) d else -1), s"'$a' vs '$b' k=$k d=$d")
    }
  }

  test("edit-distance axioms on hand-picked cases") {
    assert(within("", "", 0) == 0)
    assert(within("abc", "abc", 0) == 0)
    assert(within("abc", "abd", 2) == 1)     // substitution
    assert(within("abc", "abcd", 2) == 1)    // insertion
    assert(within("abcd", "abc", 2) == 1)    // deletion
    assert(within("kitten", "sitting", 3) == 3)
    assert(within("abc", "xyz", 2) == -1)    // above threshold
    assert(within("", "abcd", 3) == -1)      // length gap alone exceeds k
  }

  test("non-ASCII and >64-byte inputs take the fallback and still agree") {
    val cases = Seq(
      ("café", "cafe"), ("😀ab", "ab"),
      ("søren", "soren"), ("a" * 70, "a" * 68 + "bb"))
    cases.foreach { case (a, b) =>
      val d = ref(a, b)
      assert(within(a, b, 10) == (if (d <= 10) d else -1), s"'$a' vs '$b'")
    }
  }

  test("multi-byte inputs that cross the byte-vs-char gap stay character-exact") {
    // regression: byte-length shortcuts running BEFORE the non-ASCII
    // fallback returned byte distances ('' vs 'éé' = 4) or spurious -1
    // ('日本' vs '' has byte gap 6 > k but char distance 2 <= k)
    assert(within("", "éé", 4) == 2)
    assert(within("日本", "", 2) == 2)
    assert(within("日本語", "", 2) == -1) // char distance 3 > k
    assert(within("ééé", "é", 2) == 2)   // byte gap 4 > k, char distance 2
    assert(within("😀😀", "", 3) == ref("😀😀", "")) // surrogate-pair chars
  }

  test("registered SQL form runs codegen'd and equals the builtin threshold form") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(500)((
      Seq.fill(rnd.nextInt(18))(('a' + rnd.nextInt(4)).toChar).mkString,
      Seq.fill(rnd.nextInt(18))(('a' + rnd.nextInt(4)).toChar).mkString)).toDF("a", "b")
    val diff = rows.select(
        expr("levenshtein_within(a, b, 2)").as("got"),
        levenshtein(col("a"), col("b"), 2).as("want"))
      .filter(col("got") =!= col("want"))
    assert(diff.isEmpty, diff.collect().mkString(","))
  }
}
