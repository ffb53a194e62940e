package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.US_ASCII
import java.security.MessageDigest

import org.apache.commons.codec.binary.Hex
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.Dedup

/** Native Catalyst expression: the MinHash + LSH band signature of one
  * shingle set — `minhash_bands(shingles, bands, rows_per_band)` returns
  * `struct<mh: array<bigint>, sig_arr: array<string>>` in one pass over
  * the row, inside whole-stage codegen. It is the one MinHash kernel of
  * [[graft.operators.Dedup]]: the signature store, the streaming near-dup
  * flow, the store refresh and the source-overlap sketch all call it.
  *
  * Per shingle: one MD5 of its UTF-8 bytes, whose first 4 bytes read as
  * an unsigned 32-bit h; minhash_i = min over shingles of
  * (a_i·h + b_i) mod 2³¹−1 with [[graft.operators.Dedup.affineCoeffs]].
  * Per band: the lowercase-hex MD5 of its `rows_per_band` minhashes
  * printed in decimal and joined with `|` — the formulas the DuckDB oracle
  * spells out, bit for bit. A null or empty set (a k-gram doc shorter
  * than k) yields null; null shingles are skipped, as `min` skips them.
  *
  * The shapes it replaced, measured on this corpus:
  *  - one wide aggregate of 128 `min()` columns over the exploded
  *    shingles: a shuffle of every shingle row and the largest generated
  *    method of the dedup family (a Janino compile storm while the
  *    minhashes were strings), checkpointed and written twice, as a
  *    band table and a profile table;
  *  - the long-and-thin form (explode shingle × hash index, group twice),
  *    5× slower end to end: both join branches degrade to per-row
  *    aggregates over n_shingles × 128 rows;
  *  - a per-row `aggregate`/`zip_with` lambda: the same arithmetic, but
  *    Spark interprets higher-order functions (no codegen), one closure
  *    call per shingle × hash.
  *
  * `eval` and `doGenCode` both call [[MinHashBands.compute]]. */
case class MinHashBands(child: Expression, bands: Int, rowsPerBand: Int)
  extends UnaryExpression {

  @transient private lazy val coeffs = Dedup.affineCoeffs(bands * rowsPerBand)
  @transient private lazy val coeffA: Array[Long] = coeffs.map(_._1).toArray
  @transient private lazy val coeffB: Array[Long] = coeffs.map(_._2).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) if bands > 0 && rowsPerBand > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<string>, positive literal int, positive literal int), " +
        s"got ${child.dataType.simpleString}, $bands, $rowsPerBand")
  }
  override def dataType: DataType = MinHashBands.resultType
  override def nullable: Boolean = true
  override def prettyName: String = MinHashBands.name

  override def nullSafeEval(set: Any): Any =
    MinHashBands.compute(set.asInstanceOf[ArrayData], coeffA, coeffB, rowsPerBand)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("mhA", coeffA, "long[]")
    val b = ctx.addReferenceObj("mhB", coeffB, "long[]")
    nullSafeCodeGen(ctx, ev, set =>
      s"""${ev.value} = graft.functions.MinHashBands.compute($set, $a, $b, $rowsPerBand);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHashBands extends SessionFunction {
  val name = "minhash_bands"

  val resultType: StructType = StructType(Seq(
    StructField("mh", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sig_arr", ArrayType(StringType, containsNull = false), nullable = false)))

  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** (mh, sig_arr) of one shingle set, or null when it has no non-null
    * shingle; `a` and `b` hold the `bands × rowsPerBand` coefficients. */
  def compute(set: ArrayData, a: Array[Long], b: Array[Long], rowsPerBand: Int): InternalRow = {
    val md = md5.get()
    val mh = Array.fill(a.length)(Long.MaxValue)
    val shingles = (0 until set.numElements()).filterNot(set.isNullAt)
    for (s <- shingles) {
      val h = ByteBuffer.wrap(md.digest(set.getUTF8String(s).getBytes)).getInt & 0xffffffffL
      var i = 0
      while (i < mh.length) {
        mh(i) = math.min(mh(i), (a(i) * h + b(i)) % Dedup.HashMod)
        i += 1
      }
    }
    if (shingles.isEmpty) null
    else InternalRow(ArrayData.toArrayData(mh), new GenericArrayData(
      mh.grouped(rowsPerBand).map[Any](band => UTF8String.fromString(
        Hex.encodeHexString(md.digest(band.mkString("|").getBytes(US_ASCII))))).toArray))
  }

  val info: ExpressionInfo = new ExpressionInfo(classOf[MinHashBands].getName, name)

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 3, s"$name expects 3 arguments")
    def foldableInt(e: Expression, what: String): Int =
      if (e.foldable && e.dataType == IntegerType) e.eval().asInstanceOf[Int]
      else throw new IllegalArgumentException(s"$name $what must be a foldable int, got $e")
    MinHashBands(children.head, foldableInt(children(1), "bands"),
      foldableInt(children(2), "rows_per_band"))
  }
}
