package graft.core

import scala.collection.mutable.ArrayBuffer

/** Mutable tokenizer work objects, reused per token. */
final class TokAttr(
    var name: String,
    var value: String,
    var start: Int, // offset of attr name start in original input
    var end: Int // offset just past attr value (incl. closing quote)
)

final class TagToken {
  var name: String = ""
  var isEnd: Boolean = false
  var selfClosing: Boolean = false
  var ackSelfClosing: Boolean = false
  val attrs: ArrayBuffer[TokAttr] = new ArrayBuffer[TokAttr](4)
  var start: Int = 0
  var end: Int = 0

  // The tokenizer reuses ONE TagToken (and its TokAttr slots) for every tag
  // in a parse — sinks receive it synchronously and must copy what they
  // keep (all in-repo sinks already do). `pool` keeps retired TokAttr
  // instances for reuse; `attrs` holds the live prefix for the current tag.
  private val pool: ArrayBuffer[TokAttr] = new ArrayBuffer[TokAttr](4)
  // the names in `attrs`, once there are more than TagToken.ScanLimit of
  // them: a flood of attributes on one tag stays linear, and a tag with a
  // few keeps its scan
  private var names: java.util.HashSet[String] = null

  def reset(isEndTag: Boolean, startOffset: Int): Unit = {
    name = ""
    isEnd = isEndTag
    selfClosing = false
    ackSelfClosing = false
    start = startOffset
    end = 0
    attrs.clear()
    names = null
  }

  /** Adds attribute `n` unless the tag already has one of that name (the
    * tokenizer's duplicate-attribute rule: the first wins). True if added.
    */
  def addAttrIfNew(n: String, s: Int, e: Int): Boolean = {
    if (names != null) { if (!names.add(n)) return false }
    else if (hasAttr(n)) return false
    else if (attrs.length == TagToken.ScanLimit) {
      names = new java.util.HashSet[String]
      attrs.foreach(a => names.add(a.name))
      names.add(n)
    }
    val a =
      if (pool.length > attrs.length) pool(attrs.length)
      else { val x = new TokAttr("", "", 0, 0); pool += x; x }
    a.name = n; a.value = ""; a.start = s; a.end = e
    attrs += a
    true
  }

  def attr(n: String): String = {
    var i = 0
    while (i < attrs.length) {
      if (attrs(i).name == n) return attrs(i).value
      i += 1
    }
    null
  }
  def hasAttr(n: String): Boolean = attr(n) != null
}

object TagToken {
  /** Up to this many attributes, a duplicate check scans them. */
  private[core] final val ScanLimit = 8
}

final class DoctypeTok {
  var name: String = null
  var publicId: String = null
  var systemId: String = null
  var forceQuirks: Boolean = false
  var start: Int = 0
  var end: Int = 0
}

/** Receives the token stream. The tree builder implements this; a trivial
  * collecting sink backs the standalone `tokenize` API.
  *
  * CONTRACT: the `TagToken`/`DoctypeTok` objects passed to the callbacks
  * are REUSED by the tokenizer after the callback returns — a sink must
  * copy any fields (including attr entries) it keeps past the call.
  */
trait TokenSink {
  /** Non-whitespace, non-NUL character run. */
  def onChars(data: String, start: Int, end: Int): Unit
  /** ASCII-whitespace-only character run. */
  def onWhitespace(data: String, start: Int, end: Int): Unit
  /** Clean-slice variants: the run is exactly `src.substring(from, until)`
    * (no entity decode / CR normalization happened inside it). Sinks that
    * can consume a slice without materializing the string override these;
    * the defaults delegate to the String callbacks.
    */
  def onCharsRange(src: String, from: Int, until: Int, start: Int, end: Int): Unit =
    onChars(src.substring(from, until), start, end)
  def onWhitespaceRange(src: String, from: Int, until: Int, start: Int, end: Int): Unit =
    onWhitespace(src.substring(from, until), start, end)
  /** A run of U+0000 characters batched into ONE token (parse5
    * NULL_CHARACTER pending-token semantics: the run stays pending across
    * dropped constructs and flushes at the next char/token boundary, whose
    * position is `end`); `count` is the number of NULs in the run.
    */
  def onNull(start: Int, end: Int, count: Int): Unit
  def onStartTag(tag: TagToken): Unit
  def onEndTag(tag: TagToken): Unit
  def onComment(data: String, start: Int, end: Int): Unit
  def onDoctype(d: DoctypeTok): Unit
  def onEof(pos: Int): Unit
  def onParseError(code: String, start: Int, end: Int): Unit
  /** Queried when `<![CDATA[` is seen: true when the adjusted current node
    * is in a non-HTML namespace (tree-builder-driven, spec 13.2.5.42).
    */
  def cdataAllowed: Boolean = false
}
