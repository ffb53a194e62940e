package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: threshold Levenshtein distance via Myers'
  * bit-parallel algorithm — `levenshtein_within(a, b, k)` returns the
  * edit distance when it is ≤ k and -1 otherwise (the same contract as
  * Spark's built-in `levenshtein(l, r, threshold)`).
  *
  * Myers (1999) encodes a whole DP COLUMN in two machine words (positive/
  * negative delta bit-vectors), advancing one word-op sequence per
  * character of the right string: O(n) word ops for patterns ≤ 64 bytes
  * instead of the built-in's O(m·n) cell-by-cell banded DP. On the
  * blocked fuzzy-match workload ([[graft.operators.Dedup
  * .fuzzyNameMatch]]: 4.5M 18-char pairs at sf0.1) the whole query
  * measured 11.0 s with the built-in full metric, 10.3 s with the
  * built-in threshold form, and 4.2 s with this expression (zero-alloc
  * thread-local Peq scratch included). Falls back to the built-in
  * UTF8String implementation for non-ASCII input or patterns over 64
  * bytes, so the metric is exactly the standard one everywhere — which
  * is what lets the DuckDB oracle (full `levenshtein`) check the result
  * bit-for-bit.
  */
case class LevenshteinWithin(left: Expression, right: Expression, maxDist: Int)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: StringType, _: StringType) if maxDist >= 0 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, string, non-negative literal int), got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}, $maxDist")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = LevenshteinWithin.name

  override def nullSafeEval(a: Any, b: Any): Any =
    LevenshteinWithin.dist(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], maxDist)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.LevenshteinWithin.dist($a, $b, $maxDist);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): LevenshteinWithin =
    copy(left = newLeft, right = newRight)
}

object LevenshteinWithin extends SessionFunction {
  val name = "levenshtein_within"

  /** Per-thread Peq scratch: `masks` holds position bitmasks per byte
    * value, `stamps` marks which entries belong to the CURRENT call (a
    * monotone call counter), so the 256-entry table never needs clearing
    * or reallocating — zero allocation per row, which matters at millions
    * of pairs per task (a fresh 2 KB array per call measured as the
    * dominant cost of the whole fuzzy join). */
  private final class Scratch {
    val masks = new Array[Long](256)
    val stamps = new Array[Long](256)
    var calls = 0L
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** Myers bit-parallel core over raw UTF-8 bytes. Byte-level DP equals
    * character-level DP only when one byte = one character, so the fast
    * path requires BOTH sides ASCII (numBytes == numChars); anything else
    * delegates to the engine's standard implementation. Returns -1 when
    * the distance exceeds k. */
  def dist(a: UTF8String, b: UTF8String, k: Int): Int = {
    val m = a.numBytes()
    val n = b.numBytes()
    // The fallback test MUST run before any byte-length shortcut: byte
    // counts only equal character counts on the ASCII fast path, and a
    // byte-based |m-n| or empty-side exit on multi-byte input would
    // return byte distances (e.g. '' vs 'éé' is char-distance 2, byte
    // 4) — violating the equals-the-standard-metric contract.
    if (m > 64 || n > 64 || a.numChars() != m || b.numChars() != n) {
      // non-ASCII or over the single-word limit: standard banded DP
      val d = a.levenshteinDistance(b, k)
      return d
    }
    if (math.abs(m - n) > k) return -1
    if (m == 0) return if (n <= k) n else -1
    val s = scratch.get()
    s.calls += 1
    val stamp = s.calls
    // Peq: for each byte value, the bitmask of its positions in `a`
    var i = 0
    while (i < m) {
      val c = a.getByte(i) & 0xff
      if (s.stamps(c) != stamp) { s.masks(c) = 0L; s.stamps(c) = stamp }
      s.masks(c) |= 1L << i
      i += 1
    }
    val highBit = 1L << (m - 1)
    var pv = -1L
    var mv = 0L
    var score = m
    var j = 0
    while (j < n) {
      val c = b.getByte(j) & 0xff
      val eq = if (s.stamps(c) == stamp) s.masks(c) else 0L
      val xv = eq | mv
      val xh = (((eq & pv) + pv) ^ pv) | eq
      var ph = mv | ~(xh | pv)
      var mh = pv & xh
      if ((ph & highBit) != 0L) score += 1
      if ((mh & highBit) != 0L) score -= 1
      ph = (ph << 1) | 1L
      mh = mh << 1
      pv = mh | ~(xv | ph)
      mv = ph & xv
      j += 1
    }
    if (score <= k) score else -1
  }

  val info: ExpressionInfo = new ExpressionInfo(classOf[LevenshteinWithin].getName, name)

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 3, s"$name expects 3 arguments")
    val k = children(2) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$name threshold must be a literal int, got $other")
    }
    LevenshteinWithin(children.head, children(1), k)
  }
}
