package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{HtmlParser, ParseOptions, VisibleText, VisibleTextOptions}
import graft.pipeline.Extraction

/** Static entry points the generated code calls into (kept tiny so the
  * JIT inlines the dispatch; the parser itself is the work).
  */
object VisibleTextEval {
  private val budgets = Extraction.DefaultBudgets

  // Budget trips, malformed-input surprises and stack overflows yield NULL
  // (never "", which would read as an empty page), so one poison row never
  // kills a task; genuinely fatal errors (OOM etc.) still fail the task.
  // The typed pipeline's guard, with its failure class dropped: a SQL
  // string column has nowhere to carry it. A document is parsed once, on
  // the task thread, at any depth its budgets allow.
  private def guard(body: => String): UTF8String =
    Extraction.guarded(UTF8String.fromString(body))(_ => null)

  private def parse(html: UTF8String) =
    HtmlParser.parse(html.toString, ParseOptions(budgets = Some(budgets)))

  def visibleText(html: UTF8String): UTF8String = {
    if (html == null) return null
    guard(VisibleText.ofDocument(parse(html), VisibleTextOptions()))
  }

  def textContent(html: UTF8String): UTF8String = {
    if (html == null) return null
    guard(graft.core.Traversal.textContent(parse(html).children))
  }
}

/** A string function of one HTML column, evaluated by the
  * [[VisibleTextEval]] method `evalMethod`: NULL for a NULL document and for
  * a document whose parse failed under the guard.
  */
sealed trait GuardedHtmlExpression extends UnaryExpression {
  protected def evalMethod: String

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.VisibleTextEval.$evalMethod($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
}

/** `visible_text(html)` as a native Catalyst expression.
  *
  * Why an Expression and not a Scala UDF: no Row boxing, null handling is
  * codegen'd, and the call participates in whole-stage codegen as a direct
  * static invoke — the only black box is the parser itself, which is
  * irreducible. Registered via [[GraftExtensions]].
  */
case class VisibleTextExpression(child: Expression) extends GuardedHtmlExpression {
  override protected def evalMethod: String = "visibleText"
  override def prettyName: String = "visible_text"

  override protected def nullSafeEval(input: Any): Any =
    VisibleTextEval.visibleText(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): VisibleTextExpression =
    copy(child = newChild)
}

/** `text_content(html)` — unnormalized text concatenation. */
case class TextContentExpression(child: Expression) extends GuardedHtmlExpression {
  override protected def evalMethod: String = "textContent"
  override def prettyName: String = "text_content"

  override protected def nullSafeEval(input: Any): Any =
    VisibleTextEval.textContent(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): TextContentExpression =
    copy(child = newChild)
}
