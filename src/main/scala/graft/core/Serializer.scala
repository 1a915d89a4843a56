package graft.core

/** Deterministic serialization of public trees plus the html5lib `.dat`
  * normalizer used as the tree-conformance comparator (reference:
  * src/public/mod.ts:938-984, src/internal/tree/normalize.ts).
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

  // ------------------------------------------------------------------
  // html5lib "| "-indented fixture format (normalize.ts:11-52)
  private def indent(level: Int): String = "  " * level

  private def normalizeNode(node: DomNode, level: Int, lines: scala.collection.mutable.Builder[String, Vector[String]]): Unit =
    node match {
      case el: DomElement =>
        lines += s"| ${indent(level)}<${el.internalName}>"
        var ai = 0; while (ai < el.attrCount) { val a = el.attrAt(ai); ai += 1;
          lines += s"| ${indent(level + 1)}${a.name}=${"\""}${a.value}${"\""}"
        }
        el.children.foreach(c => normalizeNode(c, level + 1, lines))
      case t: DomText =>
        lines += s"| ${indent(level)}${"\""}${t.text}${"\""}"
      case c: DomComment =>
        lines += s"| ${indent(level)}<!-- ${c.value} -->"
      case d: DomDoctype =>
        if (d.publicId.nonEmpty || d.systemId.nonEmpty)
          lines += s"| ${indent(level)}<!DOCTYPE ${d.name} ${"\""}${d.publicId}${"\""} ${"\""}${d.systemId}${"\""}>"
        else lines += s"| ${indent(level)}<!DOCTYPE ${d.name}>"
      case _ =>
    }

  /** Render an internal document in the html5lib tree-fixture format — this
    * is the golden-output comparator for tree-construction conformance.
    */
  def normalizeTree(root: DomParent): String = {
    val lines = Vector.newBuilder[String]
    root.children.foreach(c => normalizeNode(c, 0, lines))
    lines.result().mkString("\n")
  }

  /** Parse + normalize in one step (for conformance tests): the
    * select-patched DOM of [[HtmlParser.buildDom]], parse errors dropped.
    */
  def normalizedParse(html: String, scriptingEnabled: Boolean = true): String =
    normalizeTree(HtmlParser.buildDom(html, ParseOptions(scriptingEnabled = scriptingEnabled),
      (_, _, _) => (), null)(_.parseDocument()))

  def normalizedParseFragment(html: String, context: String, scriptingEnabled: Boolean = true): String =
    normalizeTree(HtmlParser.buildDom(html, ParseOptions(scriptingEnabled = scriptingEnabled),
      (_, _, _) => (), null)(_.parseFragment(VisibleText.jsTrim(context).toLowerCase)))
}
