package graft.core

import scala.collection.mutable.ArrayBuffer

/** Internal mutable DOM used during tree construction, converted to the
  * public immutable tree afterwards (two-layer design mirroring the
  * reference: internal TreeNode src/internal/tree/types.ts:27-64 vs public
  * HtmlNode src/public/types.ts).
  */
object Ns {
  final val Html = 0
  final val Svg = 1
  final val MathMl = 2
}

sealed abstract class DomNode {
  var parent: DomParent = null
  var startOffset: Int = -1
  var endOffset: Int = -1
}

sealed abstract class DomParent extends DomNode {
  val children: ArrayBuffer[DomNode] = new ArrayBuffer[DomNode](4)
  def appendChild(n: DomNode): Unit = { n.parent = this; children += n }
  def insertBefore(n: DomNode, ref: DomNode): Unit = {
    val idx = children.indexOf(ref)
    n.parent = this
    if (idx < 0) children += n else children.insert(idx, n)
  }
  def removeChild(n: DomNode): Unit = {
    val idx = children.indexOf(n)
    if (idx >= 0) children.remove(idx)
    n.parent = null
  }
}

final class DomDocument extends DomParent {
  var quirksMode: String = "no-quirks" // no-quirks | quirks | limited-quirks
}

/** Fragment root for fragment parsing and <template> contents. */
final class DomFragment extends DomParent

final class DomAttr(
    var name: String, // internal format: "localName" or "prefix localName"
    var value: String,
    var start: Int = -1,
    var end: Int = -1
)

final class DomElement(
    var tagName: String, // lowercase local name
    var namespace: Int
) extends DomParent {
  // attrs buffer is LAZY: most elements carry none, and the empty buffer
  // (object + backing array) was a measurable slice of per-parse allocation.
  // Reads go through the non-allocating accessors below; only addAttr
  // materializes the buffer.
  private var attrsV: ArrayBuffer[DomAttr] = null
  def addAttr(a: DomAttr): Unit = {
    if (attrsV == null) attrsV = new ArrayBuffer[DomAttr](4)
    attrsV += a
  }
  def attrCount: Int = if (attrsV == null) 0 else attrsV.length
  def attrAt(i: Int): DomAttr = attrsV(i)
  var templateContent: DomFragment = null
  // span bookkeeping (UTF-16 code-unit offsets into the original input)
  var startTagEnd: Int = -1
  // sticky marker: a name-matching end tag set this element's end location
  // (parse5 records an `endTag` sub-location; the html/body EOF finalize
  // rules consult it — parser/index.js:2214-2227, :3146-3155)
  var endTagMatched: Boolean = false
  // lazily-computed scope/special bitmask (TreeBuilder.elFlags); -1 = unset.
  // Safe to cache because tagName/namespace are fixed after the SVG
  // case-adjust at creation time.
  var scopeFlagsV: Int = -1
  // times this element is on TreeBuilder's open-element stack (a count: the
  // head element can be pushed again after it was popped)
  var openCount: Int = 0

  def attr(n: String): String = {
    if (attrsV == null) return null
    var i = 0
    while (i < attrsV.length) {
      if (attrsV(i).name == n) return attrsV(i).value
      i += 1
    }
    null
  }
  def hasAttr(n: String): Boolean = attr(n) != null

  /** The reference's internal name format: namespace-prefixed for foreign
    * elements (reference: src/internal/tree/build.ts:129-143).
    */
  def internalName: String = namespace match {
    case Ns.Html   => tagName
    case Ns.Svg    => s"svg $tagName"
    case Ns.MathMl => s"math $tagName"
    case _         => tagName
  }
}

/** Text node. Content is held in the cheapest sufficient form: a slice of
  * the original input (the common case — consecutive clean runs extend the
  * slice in place, word/space/word text never copies until read), a plain
  * String, or a StringBuilder once non-contiguous/dirty runs merge in.
  * Reads collapse to a cached String.
  */
final class DomText private (
    private var first: String,
    private var src: String,
    private var from: Int,
    private var until: Int
) extends DomNode {
  def this(data: String) = this(data, null, 0, 0)

  private var sb: java.lang.StringBuilder = null

  private def materialize(extra: Int): java.lang.StringBuilder = {
    if (sb == null) {
      if (first != null) {
        sb = new java.lang.StringBuilder(first.length + extra + 16)
        sb.append(first)
        first = null
      } else {
        sb = new java.lang.StringBuilder((until - from) + extra + 16)
        sb.append(src, from, until)
        src = null
      }
    }
    sb
  }

  def append(data: String): Unit = { materialize(data.length).append(data); () }

  def appendSlice(s: String, f: Int, u: Int): Unit = {
    if (sb == null && src != null && (s eq src) && f == until) until = u
    else { materialize(u - f).append(s, f, u); () }
  }

  def text: String = {
    if (sb != null) { first = sb.toString; sb = null }
    else if (first == null) { first = src.substring(from, until); src = null }
    first
  }
}

object DomText {
  def ofSlice(src: String, from: Int, until: Int): DomText =
    new DomText(null, src, from, until)
}

final class DomComment(var value: String) extends DomNode

final class DomDoctype(
    var name: String,
    var publicId: String,
    var systemId: String
) extends DomNode
