package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Native Catalyst expression: |A ∩ B| over two SORTED, DISTINCT arrays
  * (string, long, or int elements) via a single linear merge — zero
  * allocation per row. The integer arms serve dictionary-encoded token
  * sets (hash the vocabulary once, then every set operation is integer
  * compares — the columnar-engine encode-then-operate pattern).
  *
  * The allocation-free sibling of [[ArrayIntersectCount]]: that kernel
  * builds a HashSet per row (the right call for unsorted inputs); this
  * one exploits a sortedness precondition to stream both arrays once
  * with binary UTF8String compares. In a verify stage that evaluates
  * millions of candidate pairs per task (the PPJoin verify,
  * [[graft.operators.PrefixJoin]]), the per-row HashSet build is the
  * dominant cost — the merge replaces it with two advancing cursors.
  *
  * PRECONDITION (caller-enforced, e.g. `array_sort(array_distinct(…))`):
  * both arrays ascending in Spark's binary string order, no duplicates.
  * Spark's `array_sort` uses the same UTF8String binary ordering the
  * merge compares with, so sortedness produced in-plan is always
  * consistent. Null elements sort last under `array_sort` and terminate
  * the merge (a null never equals anything). Null ARRAYS → null
  * (BinaryExpression null-intolerant contract).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(_: StringType, _), ArrayType(_: StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(_: LongType, _), ArrayType(_: LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(_: IntegerType, _), ArrayType(_: IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<string|long|int> inputs of matching " +
          s"element type, got ${left.dataType.simpleString} and " +
          s"${right.dataType.simpleString}")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  // type is fixed after analysis — hoist the discriminant so the
  // interpreted merge loop dispatches as statically as the codegen path
  private lazy val isString: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType.isInstanceOf[StringType]
  private lazy val isLong: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType.isInstanceOf[LongType]

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var cnt = 0
    while (i < nx && j < ny && !x.isNullAt(i) && !y.isNullAt(j)) {
      val c =
        if (isString) x.getUTF8String(i).compareTo(y.getUTF8String(j))
        else if (isLong) java.lang.Long.compare(x.getLong(i), y.getLong(j))
        else java.lang.Integer.compare(x.getInt(i), y.getInt(j))
      if (c == 0) { cnt += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    cnt
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt")
      val c = ctx.freshName("c")
      // the element type is static at codegen time — emit only its branch
      val cmp =
        if (isString) s"$a.getUTF8String($i).compareTo($b.getUTF8String($j))"
        else if (isLong) s"java.lang.Long.compare($a.getLong($i), $b.getLong($j))"
        else s"java.lang.Integer.compare($a.getInt($i), $b.getInt($j))"
      s"""
         |int $i = 0; int $j = 0; int $cnt = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()
         |       && !$a.isNullAt($i) && !$b.isNullAt($j)) {
         |  int $c = $cmp;
         |  if ($c == 0) { $cnt++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount extends SessionFunction {
  val name = "sorted_intersect_count"

  val info: ExpressionInfo = new ExpressionInfo(classOf[SortedIntersectCount].getName, name)

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, s"$name expects 2 arguments")
    SortedIntersectCount(children.head, children(1))
  }
}
