package graft.core

/** Public immutable HTML tree model.
  *
  * Mirrors the reference's public node shape (reference:
  * src/public/types.ts:167-223): every node carries an id from a monotone
  * counter assigned in post-order (the document takes 1, each element its
  * id after its children), an optional UTF-16 code-unit span into the
  * ORIGINAL input string, and a span provenance marker ("input" for
  * spans observed in the source, "inferred" for implied wrappers like
  * <html>/<body>, "none" when spans were not captured).
  */
final case class Span(start: Int, end: Int)

object SpanProvenance {
  val Input = "input"
  val Inferred = "inferred"
  val None = "none"
}

final case class Attr(name: String, value: String, span: Option[Span] = None)

/** A node of the public tree. The case classes' generated `equals`,
  * `hashCode` and `toString` recurse over `children`, so their stack use
  * grows with the tree's depth; nothing inside `Extraction.guarded` (the
  * typed extraction, streaming or the SQL functions) calls them.
  */
sealed trait HtmlNode {
  def id: Int
  def kind: String
  def span: Option[Span]
  def spanProvenance: String
}

final case class ElementNode(
    id: Int,
    tagName: String,
    attributes: Vector[Attr],
    children: Vector[HtmlNode],
    spanProvenance: String = SpanProvenance.None,
    span: Option[Span] = None
) extends HtmlNode {
  def kind: String = "element"
  def attr(name: String): Option[String] = {
    // same comparison as the reference (case-insensitive via toLowerCase on
    // both sides — toLowerCase returns `this` when already lowercase, so the
    // common path allocates nothing); index loop instead of collectFirst
    // keeps this hot lookup closure-free
    val target = name.toLowerCase
    val n = attributes.length
    var i = 0
    while (i < n) {
      val a = attributes(i)
      if (a.name.toLowerCase == target) return Some(a.value)
      i += 1
    }
    None
  }
}

final case class TextNode(
    id: Int,
    value: String,
    spanProvenance: String = SpanProvenance.None,
    span: Option[Span] = None
) extends HtmlNode {
  def kind: String = "text"
}

final case class CommentNode(
    id: Int,
    value: String,
    spanProvenance: String = SpanProvenance.None,
    span: Option[Span] = None
) extends HtmlNode {
  def kind: String = "comment"
}

final case class DoctypeNode(
    id: Int,
    name: String,
    publicId: Option[String] = None,
    systemId: Option[String] = None,
    spanProvenance: String = SpanProvenance.None,
    span: Option[Span] = None
) extends HtmlNode {
  def kind: String = "doctype"
}

final case class ParseError(
    code: String,
    parseErrorId: String,
    message: String,
    span: Option[Span]
)

/** Tree root: a parsed document (reference: src/public/types.ts:208-214).
  * `trace` is present only when parsed with `ParseOptions(trace = true)`.
  */
final case class DocumentTree(
    id: Int,
    children: Vector[HtmlNode],
    errors: Vector[ParseError],
    trace: Option[Vector[TraceEvent]] = None
) {
  def kind: String = "document"
}

/** Tree root: a parsed fragment (reference: src/public/types.ts:216-223). */
final case class FragmentTree(
    id: Int,
    contextTagName: String,
    children: Vector[HtmlNode],
    errors: Vector[ParseError],
    trace: Option[Vector[TraceEvent]] = None
) {
  def kind: String = "fragment"
}

/** Resource budgets (reference: src/public/types.ts:31-39). All optional;
  * violations at the public layer throw [[BudgetExceededException]], while
  * tree-layer budgets only RECORD errors (reference asymmetry:
  * src/public/mod.ts:541-546 vs src/internal/tree/build.ts:117-127).
  */
final case class Budgets(
    maxInputBytes: Option[Int] = None,
    maxBufferedBytes: Option[Int] = None,
    maxNodes: Option[Int] = None,
    maxDepth: Option[Int] = None,
    maxAttributesPerElement: Option[Int] = None,
    maxAttributeBytes: Option[Int] = None,
    maxTimeMs: Option[Long] = None,
    maxTraceEvents: Option[Int] = None,
    maxTraceBytes: Option[Int] = None
)

final case class BudgetExceededPayload(budget: String, limit: Long, actual: Long)

final class BudgetExceededException(val payload: BudgetExceededPayload)
    extends RuntimeException(
      s"Budget exceeded: ${payload.budget} limit=${payload.limit} actual=${payload.actual}"
    )

object BudgetExceededException {

  /** The one budget trip rule, shared by the parse, stream-decode and trace
    * budgets: a set limit is exceeded only when `actual` is strictly greater.
    */
  private[core] def exceeds(limit: Option[Long], actual: Long): Boolean =
    limit.isDefined && actual > limit.get

  /** Throws for `budget` when [[exceeds]] holds. */
  private[core] def check(budget: String, limit: Option[Long], actual: Long): Unit =
    if (exceeds(limit, actual))
      throw new BudgetExceededException(BudgetExceededPayload(budget, limit.get, actual))

  /** [[check]] of an `Int` budget, by the same rule, without a boxed `Long`
    * copy of its limit on every parse.
    */
  private[core] def checkInt(budget: String, limit: Option[Int], actual: Long): Unit =
    if (limit.isDefined && actual > limit.get)
      throw new BudgetExceededException(BudgetExceededPayload(budget, limit.get.toLong, actual))
}

final case class ParseOptions(
    captureSpans: Boolean = false,
    budgets: Option[Budgets] = None,
    scriptingEnabled: Boolean = true,
    transportEncodingLabel: Option[String] = None,
    trace: Boolean = false
)

/** Options for visible-text extraction (reference: src/public/mod.ts:1035-1040). */
final case class VisibleTextOptions(
    skipHiddenSubtrees: Boolean = true,
    includeControlValues: Boolean = true,
    includeAccessibleNameFallback: Boolean = false,
    trim: Boolean = true
)

final case class VisibleTextToken(kind: String, value: String)

final case class VisibleTextTokenWithProvenance(
    kind: String,
    value: String,
    sourceNodeId: Option[Int],
    sourceNodeKind: String,
    sourceRole: String
)

final case class OutlineEntry(nodeId: Int, depth: Int, tagName: String, text: String)
final case class Outline(entries: Vector[OutlineEntry])

final case class Chunk(index: Int, nodeId: Int, content: String, nodes: Int)
final case class ChunkOptions(
    maxChars: Int = 8192,
    maxNodes: Int = 256,
    maxBytes: Long = Long.MaxValue
)
