package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** Scala DataFrame-side entry points for the native extraction expressions —
  * the Column twin of the SQL surface: after [[functions.register]] (or the
  * `spark.sql.extensions=graft.functions.GraftExtensions` config),
  * `df.select(functions.visible_text($"html"))` plans as a codegen'd
  * Catalyst expression, not a UDF.
  */
object functions {

  /** The SQL functions, as (identifier, info, builder) triples: the one list
    * both [[register]] and [[GraftExtensions]] install. Each builder rejects
    * any argument count but one.
    */
  private[graft] val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    unary("visible_text", classOf[VisibleTextExpression], VisibleTextExpression),
    unary("text_content", classOf[TextContentExpression], TextContentExpression))

  private def unary(name: String, cls: Class[_], build: Expression => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (children: Seq[Expression]) => {
        require(children.length == 1, s"$name(html) takes exactly one argument")
        build(children.head)
      })

  /** Register visible_text / text_content on a live session (the same
    * registration [[GraftExtensions]] performs at session build time).
    * Idempotent.
    */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  /** Normalized visible text of an HTML document column. */
  def visible_text(html: Column): Column = call_function("visible_text", html)

  /** Unnormalized text-content concatenation of an HTML document column. */
  def text_content(html: Column): Column = call_function("text_content", html)
}
