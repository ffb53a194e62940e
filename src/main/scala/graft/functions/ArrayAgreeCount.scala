package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Native Catalyst expression: positional agreement count of two arrays
  * of the same atomic element type (string or integral) —
  * `|{ i : a[i] = b[i] }|` over the common prefix — in one fused
  * codegen'd loop.
  *
  * This is the MinHash-agreement kernel of [[graft.operators.Dedup
  * .nearDupPairs]]: the fraction of agreeing minhashes is an unbiased
  * estimate of Jaccard similarity, so candidate pairs can be pre-filtered
  * on `agree_count(mh_a, mh_b) >= k` before the expensive exact-Jaccard
  * verify. A `zip_with` + `aggregate` composition computes the same thing
  * but higher-order array functions are CodegenFallback (interpreted,
  * per-row closure dispatch); this runs inside the whole-stage-codegen
  * loop comparing UTF8Strings directly with zero allocation.
  *
  * Null arrays → null (BinaryExpression null-intolerant contract); null
  * ELEMENTS count as not-agreeing unless both are null at the same index
  * (matches SQL `=` joined agreement in the DuckDB oracle only when
  * elements are non-null — minhash values never are).
  */
case class ArrayAgreeCount(left: Expression, right: Expression)
  extends BinaryExpression {

  private def elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _))
          if l == r && (l.isInstanceOf[StringType] ||
            l == LongType || l == IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two arrays of the same string/long/int element type, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "array_agree_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val et = elemType
    var agree = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) &&
          (et match {
            case _: StringType => x.getUTF8String(i).equals(y.getUTF8String(i))
            case LongType      => x.getLong(i) == y.getLong(i)
            case IntegerType   => x.getInt(i) == y.getInt(i)
            case other => throw new IllegalStateException(s"unreachable: $other")
          })) agree += 1
      i += 1
    }
    agree
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val agree = ctx.freshName("agree")
      val et = elemType
      // CodeGenerator.getValue emits the type-correct primitive accessor;
      // genEqual emits == for primitives / .equals for UTF8String.
      val eq = ctx.genEqual(et,
        CodeGenerator.getValue(a, et, i), CodeGenerator.getValue(b, et, i))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $agree = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) && ($eq)) $agree++;
         |}
         |${ev.value} = $agree;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayAgreeCount =
    copy(left = newLeft, right = newRight)
}

object ArrayAgreeCount extends SessionFunction {
  val name = "array_agree_count"

  val info: ExpressionInfo = new ExpressionInfo(classOf[ArrayAgreeCount].getName, name)

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, s"$name expects 2 arguments")
    ArrayAgreeCount(children.head, children(1))
  }
}
