package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** Native Catalyst expression: |A ∩ B| over two string arrays, counting
  * each distinct common element once, in one fused hash pass.
  *
  * This is the exact-Jaccard kernel of the dedup verify stage
  * ([[graft.operators.Dedup]]): with the intersection count c and the
  * (already-distinct) set sizes, J = c / (|A| + |B| − c) — the same
  * rational number as the previous union-identity formulation, but
  * computed WITHOUT materializing the concatenated union array that
  * `size(array_distinct(concat(a, b)))` builds per candidate pair. One
  * HashSet build over the left array + one probe pass over the right;
  * null elements are ignored (shingle sets never contain them).
  *
  * Null arrays → null (BinaryExpression null-intolerant contract).
  */
case class ArrayIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(_: StringType, _), ArrayType(_: StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<string> inputs, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "array_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val set = new java.util.HashSet[Object](x.numElements() * 2)
    var i = 0
    while (i < x.numElements()) {
      if (!x.isNullAt(i)) set.add(x.getUTF8String(i))
      i += 1
    }
    var cnt = 0
    var j = 0
    while (j < y.numElements()) {
      // remove, not contains: a duplicate element on the right counts once
      if (!y.isNullAt(j) && set.remove(y.getUTF8String(j))) cnt += 1
      j += 1
    }
    cnt
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val set = ctx.freshName("set")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt")
      s"""
         |java.util.HashSet<Object> $set = new java.util.HashSet<Object>($a.numElements() * 2);
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if (!$a.isNullAt($i)) $set.add($a.getUTF8String($i));
         |}
         |int $cnt = 0;
         |for (int $j = 0; $j < $b.numElements(); $j++) {
         |  if (!$b.isNullAt($j) && $set.remove($b.getUTF8String($j))) $cnt++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayIntersectCount =
    copy(left = newLeft, right = newRight)
}

object ArrayIntersectCount extends SessionFunction {
  val name = "array_intersect_count"

  val info: ExpressionInfo = new ExpressionInfo(classOf[ArrayIntersectCount].getName, name)

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, s"$name expects 2 arguments")
    ArrayIntersectCount(children.head, children(1))
  }
}
