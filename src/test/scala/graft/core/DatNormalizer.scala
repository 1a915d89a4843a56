package graft.core

/** The html5lib `.dat` normalizer, the tree-conformance comparator: renders
  * the builder's internal DOM in the `"| "`-indented tree-fixture format
  * (reference: src/internal/tree/normalize.ts:11-52). Only the specs use it.
  */
object DatNormalizer {
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
