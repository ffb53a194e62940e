package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two double arrays in
  * one fused pass (dot product and both norms in a single loop), with full
  * whole-stage codegen via [[doGenCode]] — the preferred extension point
  * when built-in functions can't express an operator efficiently
  * (SURVEY.md §7.2): a `zip_with`+`aggregate` composition allocates an
  * intermediate array per row and runs three folds; a Scala UDF boxes
  * every element. This runs inside the generated operator loop with zero
  * allocation.
  *
  * Semantics: strict left-to-right accumulation in array-index order, so
  * results are bit-identical to an equivalent sequential-loop oracle
  * (DuckDB `list_dot_product` composition). Inputs shorter than each
  * other compare over the common prefix; zero-norm input yields NaN
  * (matches 0/0 in the oracle). Null array → null (BinaryExpression's
  * null-intolerant contract); null ELEMENTS are not supported (embedding
  * vectors are dense).
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<double> inputs, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0d; var na = 0d; var nb = 0d
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i);
         |  double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity extends SessionFunction {
  val name = "cosine_sim"

  val info: ExpressionInfo = new ExpressionInfo(classOf[CosineSimilarity].getName, name)

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, s"$name expects 2 arguments")
    CosineSimilarity(children.head, children(1))
  }
}
