package graft.core

/** Deterministic serialization of public trees (reference:
  * src/public/mod.ts:938-984).
  *
  * Serialization recurses over children, so its stack use grows with the
  * tree's depth: nothing inside `Extraction.guarded` (the typed
  * extraction, streaming or the SQL functions) calls it.
  */
object Serializer {

  val VoidElements: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr"
  )

  def escapeText(value: String): String =
    value.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  def escapeAttribute(value: String): String =
    value.replace("&", "&amp;").replace("\"", "&quot;")

  private def serializeNode(node: HtmlNode, sb: java.lang.StringBuilder): Unit = node match {
    case t: TextNode => sb.append(escapeText(t.value))
    case c: CommentNode =>
      sb.append("<!--").append(c.value).append("-->")
    case d: DoctypeNode =>
      if (d.publicId.isDefined || d.systemId.isDefined) {
        sb.append("<!DOCTYPE ").append(d.name)
          .append(" \"").append(d.publicId.getOrElse(""))
          .append("\" \"").append(d.systemId.getOrElse("")).append("\">")
      } else sb.append("<!DOCTYPE ").append(d.name).append(">")
    case el: ElementNode =>
      sb.append('<').append(el.tagName)
      if (el.attributes.nonEmpty) {
        sb.append(' ')
        var first = true
        el.attributes.foreach { a =>
          if (!first) sb.append(' ')
          first = false
          sb.append(a.name).append("=\"").append(escapeAttribute(a.value)).append('"')
        }
      }
      sb.append('>')
      if (!VoidElements.contains(el.tagName)) {
        el.children.foreach(c => serializeNode(c, sb))
        sb.append("</").append(el.tagName).append('>')
      }
    case _ =>
  }

  /** Public `serialize` over a document tree. */
  def serialize(tree: DocumentTree): String = {
    val sb = new java.lang.StringBuilder
    tree.children.foreach(c => serializeNode(c, sb))
    sb.toString
  }

  def serialize(tree: FragmentTree): String = {
    val sb = new java.lang.StringBuilder
    tree.children.foreach(c => serializeNode(c, sb))
    sb.toString
  }

  def serialize(node: HtmlNode): String = {
    val sb = new java.lang.StringBuilder
    serializeNode(node, sb)
    sb.toString
  }
}
