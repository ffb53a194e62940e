package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** A native Catalyst expression that [[graft.Sessions]] injects into every
  * session it builds, through `SparkSessionExtensions.injectFunction`.
  * Sessions derived with `newSession()` inherit the extensions, so no
  * operator registers these functions itself. */
trait SessionFunction {
  val name: String
  val info: ExpressionInfo
  val builder: Seq[Expression] => Expression
}
