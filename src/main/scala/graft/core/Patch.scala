package graft.core

/** Span-based source patching (reference: src/public/mod.ts:1872-2174):
  * edits over node ids are resolved to non-overlapping replacements against
  * the ORIGINAL input using captured spans, rendered as a slice/insert plan.
  */
sealed trait Edit { def target: Int }
final case class RemoveNode(target: Int) extends Edit
final case class ReplaceText(target: Int, value: String) extends Edit
final case class SetAttr(target: Int, name: String, value: String) extends Edit
final case class RemoveAttr(target: Int, name: String) extends Edit
final case class InsertHtmlBefore(target: Int, html: String) extends Edit
final case class InsertHtmlAfter(target: Int, html: String) extends Edit

sealed trait PatchStep
final case class SliceStep(start: Int, end: Int) extends PatchStep
final case class InsertStep(at: Int, text: String) extends PatchStep

final case class PatchPlan(steps: Vector[PatchStep], result: String)

final case class PatchPlanningPayload(code: String, target: Option[Int], detail: Option[String])

final class PatchPlanningException(val payload: PatchPlanningPayload)
    extends RuntimeException(
      s"Patch planning failed: ${payload.code}" +
        payload.target.map(t => s" target=$t").getOrElse("")
    )

object Patch {

  private def fail(code: String, target: Int, detail: String = null): Nothing =
    throw new PatchPlanningException(
      PatchPlanningPayload(code, if (target >= 0) Some(target) else None, Option(detail))
    )

  def applyPatchPlan(originalHtml: String, plan: PatchPlan): String = {
    var cursor = 0
    val output = new java.lang.StringBuilder
    plan.steps.foreach {
      case SliceStep(start, end) =>
        if (start < cursor || end < start || end > originalHtml.length)
          throw new IllegalArgumentException("invalid patch slice bounds")
        output.append(originalHtml, start, end)
        cursor = end
      case InsertStep(at, text) =>
        if (at != cursor || at > originalHtml.length)
          throw new IllegalArgumentException("invalid patch insertion offset")
        output.append(text)
    }
    output.toString
  }

  private final case class Replacement(
      sourceIndex: Int,
      target: Int,
      start: Int,
      end: Int,
      replacementHtml: String
  )

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\n' || c == '\t' || c == '\r' || c == '\f'

  /** Scan for the start tag's closing '>' honoring quoted attribute values
    * (reference: mod.ts:1829-1854).
    */
  private def findStartTagClose(html: String, start: Int): Int = {
    var quote: Char = 0
    var index = start
    while (index < html.length) {
      val c = html.charAt(index)
      if (quote == 0 && (c == '"' || c == '\'')) quote = c
      else if (quote != 0 && c == quote) quote = 0
      else if (quote == 0 && c == '>') return index
      index += 1
    }
    -1
  }

  private def findAttrInsertOffset(html: String, closeIndex: Int, tagStart: Int): Int = {
    var cursor = closeIndex - 1
    while (cursor > tagStart && isWs(html.charAt(cursor))) cursor -= 1
    if (html.charAt(cursor) == '/') cursor else closeIndex
  }

  def computePatch(originalHtml: String, edits: Seq[Edit]): PatchPlan = {
    if (edits.isEmpty) {
      val steps = Vector(SliceStep(0, originalHtml.length))
      return PatchPlan(steps, originalHtml)
    }
    val parsed = HtmlParser.parse(originalHtml, ParseOptions(captureSpans = true))
    val nodeById = scala.collection.mutable.Map[Int, HtmlNode]()
    Traversal.iterate(parsed.children).foreach { case (n, _) => nodeById(n.id) = n }

    def requireNode(target: Int): HtmlNode =
      nodeById.getOrElse(target, fail("NODE_NOT_FOUND", target))

    def requireSpan(target: Int): Span = {
      val node = requireNode(target)
      if (node.spanProvenance != SpanProvenance.Input)
        fail("NON_INPUT_SPAN_PROVENANCE", target, node.spanProvenance)
      node.span.getOrElse(fail("MISSING_NODE_SPAN", target))
    }

    def requireElement(target: Int): ElementNode = requireNode(target) match {
      case e: ElementNode => e
      case _              => fail("INVALID_EDIT_TARGET", target, "expected element node target")
    }

    val replacements = edits.zipWithIndex.map { case (edit, sourceIndex) =>
      edit match {
        case RemoveNode(target) =>
          val span = requireSpan(target)
          Replacement(sourceIndex, target, span.start, span.end, "")
        case ReplaceText(target, value) =>
          requireNode(target) match {
            case _: TextNode =>
            case _ => fail("INVALID_EDIT_TARGET", target, "expected text node target")
          }
          val span = requireSpan(target)
          Replacement(sourceIndex, target, span.start, span.end, Serializer.escapeText(value))
        case SetAttr(target, name, value) =>
          val element = requireElement(target)
          val rendered = s"""$name="${Serializer.escapeAttribute(value)}""""
          element.attributes.find(_.name == name) match {
            case Some(existing) =>
              val span = existing.span.getOrElse(fail("ATTRIBUTE_SPAN_MISSING", target, name))
              Replacement(sourceIndex, target, span.start, span.end, rendered)
            case None =>
              val elementSpan = requireSpan(target)
              val closeIndex = findStartTagClose(originalHtml, elementSpan.start)
              if (closeIndex == -1) fail("ELEMENT_START_TAG_NOT_FOUND", target)
              val insertAt = findAttrInsertOffset(originalHtml, closeIndex, elementSpan.start)
              Replacement(sourceIndex, target, insertAt, insertAt, s" $rendered")
          }
        case RemoveAttr(target, name) =>
          val element = requireElement(target)
          val existing = element.attributes.find(_.name == name)
            .getOrElse(fail("ATTRIBUTE_NOT_FOUND", target, name))
          val attrSpan = existing.span.getOrElse(fail("ATTRIBUTE_SPAN_MISSING", target, name))
          val elementSpan = requireSpan(target)
          val closeIndex = findStartTagClose(originalHtml, elementSpan.start)
          if (closeIndex == -1) fail("ELEMENT_START_TAG_NOT_FOUND", target)
          var start = attrSpan.start
          var end = attrSpan.end
          while (start > elementSpan.start + 1 && isWs(originalHtml.charAt(start - 1)))
            start -= 1
          if (start == attrSpan.start) {
            while (end < closeIndex && isWs(originalHtml.charAt(end))) end += 1
          }
          Replacement(sourceIndex, target, start, end, "")
        case InsertHtmlBefore(target, html) =>
          val span = requireSpan(target)
          Replacement(sourceIndex, target, span.start, span.start, html)
        case InsertHtmlAfter(target, html) =>
          val span = requireSpan(target)
          Replacement(sourceIndex, target, span.end, span.end, html)
      }
    }

    val sorted = replacements.sortBy(r => (r.start, r.end, r.sourceIndex))
    var previousEnd = 0
    sorted.foreach { r =>
      if (r.start < 0 || r.end < r.start || r.end > originalHtml.length)
        fail("OVERLAPPING_EDITS", r.target, "invalid replacement bounds")
      if (r.start < previousEnd) fail("OVERLAPPING_EDITS", r.target)
      previousEnd = math.max(previousEnd, r.end)
    }

    val steps = Vector.newBuilder[PatchStep]
    var cursor = 0
    sorted.foreach { r =>
      if (cursor < r.start) steps += SliceStep(cursor, r.start)
      steps += InsertStep(r.start, r.replacementHtml)
      cursor = r.end
    }
    if (cursor < originalHtml.length) steps += SliceStep(cursor, originalHtml.length)
    val allSteps = steps.result()
    PatchPlan(allSteps, applyPatchPlan(originalHtml, PatchPlan(allSteps, "")))
  }
}
