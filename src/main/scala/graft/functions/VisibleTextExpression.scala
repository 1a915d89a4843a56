package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{HtmlParser, ParseOptions, VisibleText, VisibleTextOptions}

/** Static entry points the generated code calls into (kept tiny so the
  * JIT inlines the dispatch; the parser itself is the work).
  */
object VisibleTextEval {
  private val budgets = graft.pipeline.Extraction.DefaultBudgets

  // Budget trips, malformed-input surprises, and recursion overflow on the
  // task thread (maxDepth is only checked post-build) degrade to "" so one
  // poison row never kills a task; genuinely fatal errors (OOM etc.) must
  // still fail the task rather than masquerade as an empty extraction.
  private def guard(body: => String): String =
    try body
    catch {
      case scala.util.control.NonFatal(_) => ""
      case _: StackOverflowError          => ""
    }

  def visibleText(html: UTF8String): UTF8String = {
    if (html == null) return null
    UTF8String.fromString(guard(
      VisibleText.ofDocument(
        HtmlParser.parse(html.toString, ParseOptions(budgets = Some(budgets))),
        VisibleTextOptions())))
  }

  def textContent(html: UTF8String): UTF8String = {
    if (html == null) return null
    UTF8String.fromString(guard(
      graft.core.Traversal.textContent(
        HtmlParser.parse(html.toString, ParseOptions(budgets = Some(budgets))).children)))
  }
}

/** `visible_text(html)` as a native Catalyst expression.
  *
  * Why an Expression and not a Scala UDF: no Row boxing, null handling is
  * codegen'd, and the call participates in whole-stage codegen as a direct
  * static invoke — the only black box is the parser itself, which is
  * irreducible. Registered via [[GraftExtensions]].
  */
case class VisibleTextExpression(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "visible_text"

  override protected def nullSafeEval(input: Any): Any =
    VisibleTextEval.visibleText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VisibleTextEval.visibleText($c)")

  override protected def withNewChildInternal(newChild: Expression): VisibleTextExpression =
    copy(child = newChild)
}

/** `text_content(html)` — unnormalized text concatenation. */
case class TextContentExpression(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "text_content"

  override protected def nullSafeEval(input: Any): Any =
    VisibleTextEval.textContent(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VisibleTextEval.textContent($c)")

  override protected def withNewChildInternal(newChild: Expression): TextContentExpression =
    copy(child = newChild)
}
