package graft.core

import scala.collection.mutable.ArrayBuffer

/** WHATWG HTML tree construction (spec §13.2.6): the 23 insertion modes,
  * open-element stack, active-formatting-elements list (Noah's Ark cap 3),
  * adoption agency, foster parenting, foreign content, quirks detection.
  *
  * Behavior-compatible with the reference's vendored parser (reference:
  * src/internal/vendor/parse5/parser/index.js) but written from the
  * published spec as an idiomatic Scala implementation. Consumes the token
  * stream produced by [[Tokenizer]] (homogeneous character runs), mutating
  * an internal DOM that the public layer converts to immutable trees.
  */
object InsertionMode {
  /** The reference's reset map can leave the mode literally `undefined`: its
    * TEMPLATE case (parser/index.js:605) is tagID-based and namespace-blind,
    * so a foreign `<math template>` on the stack reads
    * `tmplInsertionModeStack[0]` of an EMPTY stack. From then on every token
    * routed to HTML rules falls through the mode switch and is silently
    * dropped (foreign-content dispatch, which checks the current node rather
    * than the mode, keeps working). We model that with this sentinel.
    */
  final val Undefined = -1
  final val Initial = 0
  final val BeforeHtml = 1
  final val BeforeHead = 2
  final val InHead = 3
  final val InHeadNoscript = 4
  final val AfterHead = 5
  final val InBody = 6
  final val Text = 7
  final val InTable = 8
  final val InTableText = 9
  final val InCaption = 10
  final val InColumnGroup = 11
  final val InTableBody = 12
  final val InRow = 13
  final val InCell = 14
  final val InSelect = 15
  final val InSelectInTable = 16
  final val InTemplate = 17
  final val AfterBody = 18
  final val InFrameset = 19
  final val AfterFrameset = 20
  final val AfterAfterBody = 21
  final val AfterAfterFrameset = 22

  /** parse5-style mode names for trace events (reference:
    * src/internal/vendor/parse5/parser/index.js:17-42,59-65).
    */
  private val Names = Array(
    "INITIAL", "BEFORE_HTML", "BEFORE_HEAD", "IN_HEAD", "IN_HEAD_NO_SCRIPT",
    "AFTER_HEAD", "IN_BODY", "TEXT", "IN_TABLE", "IN_TABLE_TEXT", "IN_CAPTION",
    "IN_COLUMN_GROUP", "IN_TABLE_BODY", "IN_ROW", "IN_CELL", "IN_SELECT",
    "IN_SELECT_IN_TABLE", "IN_TEMPLATE", "AFTER_BODY", "IN_FRAMESET",
    "AFTER_FRAMESET", "AFTER_AFTER_BODY", "AFTER_AFTER_FRAMESET")

  def name(mode: Int): String =
    if (mode == Undefined) "undefined"
    else if (mode >= 0 && mode < Names.length) Names(mode)
    else mode.toString
}

object TreeBuilder {
  /** One insertion-mode change plus the token being processed when it fired
    * (reference: parser/index.js:203-230 instrumentation +
    * summarizeTokenContext:66-90). Offsets are -1 when unknown.
    */
  final case class ModeTransition(fromMode: String, toMode: String,
                                  tokenType: String, tokenTagName: String,
                                  tokenStart: Int, tokenEnd: Int)

  /** Global (ns, tagName) → predicate-bitmask cache: the flags depend only
    * on the pair, so computing them once per distinct tag name process-wide
    * beats recomputing per element.
    */
  private[core] val flagsCache: Array[java.util.concurrent.ConcurrentHashMap[String, Integer]] =
    Array.fill(3)(new java.util.concurrent.ConcurrentHashMap[String, Integer])

  /** Bound on each per-namespace flags cache: long-lived executors parsing
    * web-scale junk must not accumulate unbounded distinct tag names (the
    * known-tag vocabulary is a few hundred; 64k leaves ample headroom).
    */
  private[core] final val FlagsCacheMaxEntries = 65536

  // name sets of the scope walk, the pop-through and the pop-back-to
  private val TableSections = Set("tbody", "thead", "tfoot")
  private val Cells = Set("td", "th")
  private val TableContext = Set("table", "template", "html")
  private val TableBodyContext = Set("tbody", "tfoot", "thead", "template", "html")
  private val TableRowContext = Set("tr", "template", "html")
}

final class AfeEntry(
    var element: DomElement, // null for markers
    val name: String,
    val ns: Int,
    val attrsSnapshot: Vector[(String, String)],
    // original start-tag token offsets — parse5 keeps the token on the entry
    // and reconstruction re-inserts with ITS location (parser/index.js:546)
    val tokStart: Int = -1,
    val tokEnd: Int = -1,
    val attrSpans: Vector[(Int, Int)] = Vector.empty
) {
  def isMarker: Boolean = element == null && name == null
}

final class TreeBuilder(
    input: String,
    scriptingEnabled: Boolean,
    captureSpans: Boolean,
    onError: (String, Int, Int) => Unit,
    onModeTransition: TreeBuilder.ModeTransition => Unit = null
) extends TokenSink {
  import InsertionMode._
  import TreeBuilder.{Cells, TableBodyContext, TableContext, TableRowContext, TableSections}

  val document = new DomDocument
  var tokenizer: Tokenizer = null

  // fragment parsing support
  private var fragmentContext: DomElement = null

  private var modeVar: Int = Initial

  @inline private def mode: Int = modeVar

  /** Every insertion-mode change funnels through this setter so the opt-in
    * trace callback observes transitions exactly where they happen.
    */
  private def mode_=(next: Int): Unit = {
    val prev = modeVar
    modeVar = next
    if (onModeTransition != null && prev != next)
      onModeTransition(TreeBuilder.ModeTransition(
        InsertionMode.name(prev), InsertionMode.name(next),
        curTokType, curTokTagName, curTokStart, curTokEnd))
  }

  private var originalMode: Int = Initial
  private val templateModes = new ArrayBuffer[Int]
  private val stack = new ArrayBuffer[DomElement](16)
  private val afe = new ArrayBuffer[AfeEntry](8)
  private var headElement: DomElement = null
  private var formElement: DomElement = null
  private var framesetOk = true
  private var ignoreNextLf = false
  private var stopped = false

  // pending character runs for "in table text": (data, isWs, start, end)
  private val pendingTableChars = new ArrayBuffer[(String, Boolean, Int, Int)]
  private var fosterParenting = false

  // parse5 `currentToken` trace-context mirror: set ONLY by start/end tag
  // tokens (parser/index.js:899,1022) — mode transitions triggered by
  // character/comment/doctype/EOF tokens report the LAST tag token
  private var curTokStart = -1
  private var curTokEnd = -1
  // parse5 `currentToken` mirror for END-LOCATION bookkeeping: updated ONLY
  // by start/end-tag tokens (parser/index.js:899,1022) — character, comment,
  // doctype and EOF tokens do NOT touch it, so pops they trigger (including
  // EOF-mode pops) take their end location from the LAST tag token seen.
  private var locTokStart = -1
  private var locTokEnd = -1
  private var locTokEndTagName: String = null
  // current-token summary for trace mode transitions (parse5 TokenType names)
  private var curTokType: String = null
  private var curTokTagName: String = null

  @inline private def setTokContext(tpe: String, tagName: String): Unit = {
    curTokType = tpe; curTokTagName = tagName
  }

  private def err(code: String, start: Int, end: Int): Unit =
    onError(code, start, end)

  // ------------------------------------------------------------------
  // open-element stack (open-element-stack.js). push, pop, removeAt,
  // replaceAt and insertAt are its only writers (besides the EOF clear,
  // after which nothing is asked), so they keep its facts: each element's
  // open count, the number of open HTML p and template elements, sawSelect,
  // and the end location a removal sets. The counts answer membership in
  // O(1) where parse5 walks (except tmplCount, which it keeps too).
  private def current: DomElement = stack(stack.length - 1)

  /** Whether any <select> was ever pushed — lets the public layer skip the
    * post-parse select/option compat patch (a full-tree walk) entirely for
    * the overwhelmingly common select-free document.
    */
  var sawSelect = false
  private var openP = 0
  private var openTemplates = 0

  private def tally(el: DomElement, delta: Int): Unit = {
    el.openCount += delta
    if (el.namespace == Ns.Html) {
      val t = el.tagName
      if (t == "p") openP += delta
      else if (t == "template") openTemplates += delta
      else if (t == "select") sawSelect = true
    }
  }

  private def push(el: DomElement): Unit = { stack += el; tally(el, 1) }

  private def insertAt(i: Int, el: DomElement): Unit = { stack.insert(i, el); tally(el, 1) }

  /** parse5 `replace` fires no pop, so the old element keeps its end location. */
  private def replaceAt(i: Int, el: DomElement): Unit = {
    tally(stack(i), -1)
    stack(i) = el
    tally(el, 1)
  }

  /** Every removal is a parse5 `onItemPop`: it sets the end location. */
  private def removeAt(i: Int): DomElement = {
    val el = stack.remove(i)
    tally(el, -1)
    setEndLocation(el)
    el
  }

  private def pop(): DomElement = removeAt(stack.length - 1)

  private def removeFromStack(el: DomElement): Unit =
    if (onStack(el)) removeAt(stack.lastIndexWhere(_ eq el))

  private def onStack(el: DomElement): Boolean = el.openCount > 0

  private def hasTemplateOnStack: Boolean = openTemplates > 0

  /** parse5 `_setEndLocation` (parser/index.js:443-465): fires on every
    * stack pop/remove with the token being processed; always overwrites;
    * matches the end-tag name namespace-blind against the element's stored
    * (case-adjusted) name — the foreign end-tag walk patches the token name
    * first, mirroring parser/index.js:3303-3305.
    */
  private def setEndLocation(el: DomElement): Unit =
    setEndLocationAt(el, locTokStart, locTokEnd, locTokEndTagName)

  private def setEndLocationAt(el: DomElement, tStart: Int, tEnd: Int, tName: String): Unit = {
    if (!captureSpans || el.startOffset < 0 || tStart < 0) return
    if (tName != null && tName == el.tagName) {
      el.endOffset = tEnd
      el.endTagMatched = true
    } else el.endOffset = tStart
  }

  /** The one element test of the scope walk, the pop-through and the
    * pop-back-to: `target` itself when given, else an HTML element named
    * `name`, or named in `names` when that is given.
    */
  private def matches(el: DomElement, name: String, names: Set[String],
                      target: DomElement): Boolean =
    if (target != null) el eq target
    else el.namespace == Ns.Html &&
      (if (names != null) names.contains(el.tagName) else el.tagName == name)

  /** Pops until it has popped a matching element (or emptied the stack). */
  private def popThrough(name: String, names: Set[String] = null,
                         target: DomElement = null): Unit =
    while (stack.nonEmpty && !matches(pop(), name, names, target)) ()

  /** Pops until the current node is an HTML element named in `names` (the
    * spec's "clear the stack back to a table/table body/table row context").
    */
  private def popBackTo(names: Set[String]): Unit =
    while (!matches(current, null, names, null)) pop()

  // scope queries ------------------------------------------------------
  // Per-element predicate bitmask, computed once per element on first use
  // (scope queries run on every <p>/implied-end-tag check — the string
  // matches they replace were ~10% of parse time on text-heavy docs).
  private final val FDefaultScopeStop = 1
  private final val FButton = 2
  private final val FListItemStop = 4
  private final val FTableScopeStop = 8
  private final val FImpliedEnd = 16
  private final val FImpliedEndThorough = 32
  private final val FSpecial = 64

  private def computeElFlags(el: DomElement): Int = {
    val ns = el.namespace
    if (ns >= 0 && ns < 3) {
      val cache = TreeBuilder.flagsCache(ns)
      val hit = cache.get(el.tagName)
      if (hit != null) return hit.intValue
      val f = computeElFlagsSlow(el)
      // tag names come from untrusted input and can be near-unique per
      // document ('<a<b>' tokenizes to name "a<b"), so cap the process-wide
      // cache: past the cap, fall through to the slow path, which the
      // per-element scopeFlagsV memo still amortizes within a document
      if (cache.size < TreeBuilder.FlagsCacheMaxEntries)
        cache.put(el.tagName, Integer.valueOf(f))
      f
    } else computeElFlagsSlow(el)
  }

  private def computeElFlagsSlow(el: DomElement): Int = {
    var f = 0
    val stop = el.namespace match {
      case Ns.Html =>
        el.tagName == "applet" || el.tagName == "caption" || el.tagName == "html" ||
          el.tagName == "table" || el.tagName == "td" || el.tagName == "th" ||
          el.tagName == "marquee" || el.tagName == "object" || el.tagName == "template"
      case Ns.MathMl =>
        HtmlMeta.isMathMlTextIntegrationPoint(el) || el.tagName == "annotation-xml"
      case Ns.Svg =>
        val t = el.tagName
        t == "foreignObject" || t == "desc" || t == "title"
      case _ => false
    }
    if (stop) f |= FDefaultScopeStop
    if (el.namespace == Ns.Html) {
      val t = el.tagName
      if (t == "button") f |= FButton
      if (t == "ol" || t == "ul") f |= FListItemStop
      // the reference's table-scope walk stops ONLY at html/table — NOT at
      // template as the spec text says (open-element-stack.js:250-266), so
      // a <table> inside an open template can close an outer table
      if (t == "html" || t == "table") f |= FTableScopeStop
    }
    // implied-end-tag pops are NAMESPACE-BLIND in the reference (tagID-only
    // sets, open-element-stack.js:3-9,307-316): e.g. an <svg option> current
    // node is popped by generateImpliedEndTags
    if (HtmlMeta.ImpliedEndTags.contains(el.tagName)) f |= FImpliedEnd
    if (HtmlMeta.ImpliedEndTagsThorough.contains(el.tagName)) f |= FImpliedEndThorough
    if (HtmlMeta.isSpecial(el)) f |= FSpecial
    f
  }

  @inline private def elFlags(el: DomElement): Int = {
    var f = el.scopeFlagsV
    if (f == -1) { f = computeElFlags(el); el.scopeFlagsV = f }
    f
  }

  @inline private def isSpecialEl(el: DomElement): Boolean =
    (elFlags(el) & FSpecial) != 0

  // the scope walk's stop masks
  private final val DefaultScope = FDefaultScopeStop
  private final val ButtonScope = FDefaultScopeStop | FButton
  private final val ListItemScope = FDefaultScopeStop | FListItemStop
  private final val TableScope = FTableScopeStop

  /** The one scope walk (open-element-stack.js hasIn*Scope): from the top,
    * true at the first element that [[matches]], false at the first whose
    * flags meet the `stop` mask.
    */
  private def inScope(stop: Int, name: String, names: Set[String] = null,
                      target: DomElement = null): Boolean = {
    var i = stack.length - 1
    while (i >= 0) {
      val el = stack(i)
      if (matches(el, name, names, target)) return true
      if ((elFlags(el) & stop) != 0) return false
      i -= 1
    }
    false
  }

  /** An HTML p in button scope; false at once when no HTML p is open. */
  private def pInButtonScope: Boolean = openP > 0 && inScope(ButtonScope, "p")

  private def hasInSelectScope(name: String): Boolean = {
    var i = stack.length - 1
    while (i >= 0) {
      val el = stack(i)
      if (el.namespace == Ns.Html) {
        if (el.tagName == name) return true
        if (el.tagName != "optgroup" && el.tagName != "option") return false
      } else return false
      i -= 1
    }
    false
  }

  private def generateImpliedEndTags(except: String): Unit = {
    while (stack.nonEmpty && (elFlags(current) & FImpliedEnd) != 0 &&
      current.tagName != except) pop()
  }

  private def generateImpliedEndTagsThoroughly(): Unit = {
    while (stack.nonEmpty && (elFlags(current) & FImpliedEndThorough) != 0) pop()
  }

  // ------------------------------------------------------------------
  // node creation & insertion
  private def createElement(tag: TagToken, ns: Int): DomElement = {
    val el = new DomElement(tag.name, ns)
    var i = 0
    while (i < tag.attrs.length) {
      val a = tag.attrs(i)
      el.addAttr(new DomAttr(a.name, a.value, a.start, a.end))
      i += 1
    }
    if (captureSpans) {
      el.startOffset = tag.start
      el.startTagEnd = tag.end
    }
    if (ns == Ns.Html && tag.name == "template") el.templateContent = new DomFragment
    el
  }

  private def createFakeElement(name: String): DomElement = {
    val el = new DomElement(name, Ns.Html)
    if (name == "template") el.templateContent = new DomFragment
    el
  }

  /** Appropriate place for inserting a node (spec §13.2.6.1). Returns the
    * parent and the node to insert before (null = append).
    */
  private def insertionLocation(overrideTarget: DomElement): (DomParent, DomNode) = {
    val target = if (overrideTarget != null) overrideTarget else current
    if (fosterParenting && target.namespace == Ns.Html &&
      (target.tagName == "table" || target.tagName == "tbody" ||
        target.tagName == "tfoot" || target.tagName == "thead" ||
        target.tagName == "tr")) {
      // foster parenting
      var lastTemplateIdx = -1
      var lastTableIdx = -1
      var i = stack.length - 1
      while (i >= 0 && (lastTemplateIdx < 0 || lastTableIdx < 0)) {
        val el = stack(i)
        if (el.namespace == Ns.Html) {
          if (lastTemplateIdx < 0 && el.tagName == "template") lastTemplateIdx = i
          if (lastTableIdx < 0 && el.tagName == "table") lastTableIdx = i
        }
        i -= 1
      }
      if (lastTemplateIdx >= 0 && (lastTableIdx < 0 || lastTemplateIdx > lastTableIdx)) {
        return (stack(lastTemplateIdx).templateContent, null)
      }
      if (lastTableIdx < 0) return (stack(0), null)
      val table = stack(lastTableIdx)
      if (table.parent != null) (table.parent, table)
      else (stack(lastTableIdx - 1), null)
    } else {
      if (target.namespace == Ns.Html && target.tagName == "template")
        (target.templateContent, null)
      else (target, null)
    }
  }

  private def insertNodeAt(loc: (DomParent, DomNode), node: DomNode): Unit = {
    val (parent, before) = loc
    if (before == null) parent.appendChild(node)
    else parent.insertBefore(node, before)
  }

  private def insertElement(tag: TagToken, ns: Int): DomElement = {
    val el = createElement(tag, ns)
    insertNodeAt(insertionLocation(null), el)
    push(el)
    el
  }

  /** Insert an element and immediately pop it (void elements). */
  private def appendElement(tag: TagToken, ns: Int): DomElement = {
    val el = createElement(tag, ns)
    insertNodeAt(insertionLocation(null), el)
    if (captureSpans) el.endOffset = tag.end
    el
  }

  private def insertFakeElement(name: String): DomElement = {
    val el = createFakeElement(name)
    insertNodeAt(insertionLocation(null), el)
    push(el)
    el
  }

  /** The implied <html> root is appended to the document itself. */
  private def insertHtmlRoot(): DomElement = {
    val el = createFakeElement("html")
    document.appendChild(el)
    push(el)
    el
  }

  /** Insert (or merge) character data; returns the text node touched. */
  private def insertCharacters(data: String, start: Int, end: Int): DomText = {
    val loc = insertionLocation(null)
    val (parent, before) = loc
    // merge with an existing preceding text node
    val prev: DomNode =
      if (before == null) {
        if (parent.children.nonEmpty) parent.children(parent.children.length - 1) else null
      } else {
        val idx = parent.children.indexOf(before)
        if (idx > 0) parent.children(idx - 1) else null
      }
    prev match {
      case t: DomText =>
        if (data == null) t.appendSlice(sliceSrc, sliceFrom, sliceUntil)
        else t.append(data)
        if (captureSpans && end >= 0) t.endOffset = end
        t
      case _ =>
        val t =
          if (data == null) DomText.ofSlice(sliceSrc, sliceFrom, sliceUntil)
          else new DomText(data)
        if (captureSpans) { t.startOffset = start; t.endOffset = end }
        insertNodeAt(loc, t)
        t
    }
  }

  private def insertComment(data: String, start: Int, end: Int, parent: DomParent): Unit = {
    val c = new DomComment(data)
    if (captureSpans) { c.startOffset = start; c.endOffset = end }
    if (parent != null) parent.appendChild(c)
    else insertNodeAt(insertionLocation(null), c)
  }

  // ------------------------------------------------------------------
  // active formatting elements
  private def afeInsertMarker(): Unit = afe += new AfeEntry(null, null, 0, Vector.empty)

  private def afePush(el: DomElement, tag: TagToken): Unit = {
    // Noah's Ark: at most 3 matching entries after the last marker.
    // Fast path: scan by (name, ns) with index loops and only materialize
    // attribute snapshots when a candidate name/ns match exists — the
    // common case (no formatting-element repetition) allocates one entry.
    var count = 0
    var earliestIdx = -1
    var snapshot: Vector[(String, String)] = null
    def snap(): Vector[(String, String)] = {
      if (snapshot == null) {
        val b = Vector.newBuilder[(String, String)]
        var j = 0
        while (j < tag.attrs.length) { val a = tag.attrs(j); b += ((a.name, a.value)); j += 1 }
        snapshot = b.result()
      }
      snapshot
    }
    var i = afe.length - 1
    var break = false
    while (i >= 0 && !break) {
      val e = afe(i)
      if (e.isMarker) break = true
      else if (e.name == el.tagName && e.ns == el.namespace &&
        e.attrsSnapshot.size == tag.attrs.length && e.attrsSnapshot.toSet == snap().toSet) {
        count += 1
        earliestIdx = i
      }
      i -= 1
    }
    if (count >= 3 && earliestIdx >= 0) afe.remove(earliestIdx)
    val spans = {
      val b = Vector.newBuilder[(Int, Int)]
      var j = 0
      while (j < tag.attrs.length) { val a = tag.attrs(j); b += ((a.start, a.end)); j += 1 }
      b.result()
    }
    afe += new AfeEntry(el, el.tagName, el.namespace, snap(), tag.start, tag.end, spans)
  }

  private def afeIndexOf(el: DomElement): Int = afe.indexWhere(e => e.element eq el)

  private def afeRemove(el: DomElement): Unit = {
    val idx = afeIndexOf(el)
    if (idx >= 0) afe.remove(idx)
  }

  private def afeClearToLastMarker(): Unit = {
    var done = false
    while (!done && afe.nonEmpty) {
      val e = afe.remove(afe.length - 1)
      if (e.isMarker) done = true
    }
  }

  /** Last entry with the given name after the last marker, or null. */
  private def afeEntryAfterMarker(name: String): AfeEntry = {
    var i = afe.length - 1
    while (i >= 0) {
      val e = afe(i)
      if (e.isMarker) return null
      if (e.name == name && e.ns == Ns.Html) return e
      i -= 1
    }
    null
  }

  private def reconstructActiveFormattingElements(): Unit = {
    if (afe.isEmpty) return
    val lastIdx = afe.length - 1
    val last = afe(lastIdx)
    if (last.isMarker || onStack(last.element)) return
    // rewind
    var entryIdx = lastIdx
    var rewound = false
    while (!rewound) {
      if (entryIdx == 0) rewound = true
      else {
        entryIdx -= 1
        val e = afe(entryIdx)
        if (e.isMarker || onStack(e.element)) {
          entryIdx += 1 // advance back to the first to recreate
          rewound = true
        }
      }
    }
    // recreate from entryIdx to end
    while (entryIdx < afe.length) {
      val e = afe(entryIdx)
      val el = new DomElement(e.name, e.ns)
      var ai = 0
      while (ai < e.attrsSnapshot.length) {
        val (n, v) = e.attrsSnapshot(ai)
        val (as, ae) = if (ai < e.attrSpans.length) e.attrSpans(ai) else (-1, -1)
        el.addAttr(new DomAttr(n, v, as, ae))
        ai += 1
      }
      // parse5 reconstructs via _insertElement(entry.token) — the recreated
      // element carries the ORIGINAL start tag's location (parser/index.js:546)
      if (captureSpans && e.tokStart >= 0) {
        el.startOffset = e.tokStart
        el.startTagEnd = e.tokEnd
      }
      insertNodeAt(insertionLocation(null), el)
      push(el)
      e.element = el
      entryIdx += 1
    }
  }

  // ------------------------------------------------------------------
  // adoption agency (spec §13.2.6.4.7 "in body" A/B... formatting end tags)
  private def adoptionAgency(subject: String): Unit = {
    // NOTE: the reference implements NO spec-step-1 shortcut ("current node
    // is subject and not in AFE -> pop and return"): callAdoptionAgency
    // (parser/index.js:1344) goes straight to the AFE-entry lookup, so a
    // </i> whose AFE entries were all evicted (Noah's ark) removes the LAST
    // AFE <i> entry without touching the open stack (divergence #18).
    var outer = 0
    while (outer < 8) {
      outer += 1
      val entry = afeEntryAfterMarker(subject)
      if (entry == null) { anyOtherEndTagInBody(subject); return }
      val fmtEl = entry.element
      if (!onStack(fmtEl)) { afeRemove(fmtEl); return }
      // parse5's scope check is TAG-based (openElements.hasInScope(token
      // .tagID), parser/index.js:1252), not element-identity-based: if any
      // same-tag HTML element is in scope the algorithm proceeds with the
      // AFE entry even when that specific element is out of scope.
      if (!inScope(DefaultScope, subject)) return
      val fmtIdx = stack.lastIndexWhere(_ eq fmtEl)
      // furthest block: first special element below the formatting element
      var fbIdx = -1
      var i = fmtIdx + 1
      while (i < stack.length && fbIdx < 0) {
        if (isSpecialEl(stack(i))) fbIdx = i
        i += 1
      }
      if (fbIdx < 0) {
        popThrough(null, target = fmtEl)
        afeRemove(fmtEl)
        return
      }
      val furthestBlock = stack(fbIdx)
      val commonAncestor = stack(fmtIdx - 1)
      var bookmark = afeIndexOf(fmtEl)
      var node = furthestBlock
      var lastNode: DomNode = furthestBlock
      var nodeIdx = fbIdx
      var inner = 0
      var innerDone = false
      while (!innerDone) {
        inner += 1
        nodeIdx -= 1
        node = stack(nodeIdx)
        if (node eq fmtEl) innerDone = true
        else {
          var nodeAfeIdx = afeIndexOf(node)
          if (inner > 3 && nodeAfeIdx >= 0) {
            afe.remove(nodeAfeIdx)
            if (nodeAfeIdx < bookmark) bookmark -= 1
            nodeAfeIdx = -1
          }
          if (nodeAfeIdx < 0) {
            // parse5 openElements.remove fires onItemPop → end location
            // from the current (end-tag) token (open-element-stack.js:171)
            removeAt(nodeIdx)
            // fbIdx shifts down, but we no longer need it
          } else {
            // clone node
            val e = afe(nodeAfeIdx)
            val clone = new DomElement(e.name, e.ns)
            e.attrsSnapshot.foreach { case (n, v) => clone.addAttr(new DomAttr(n, v)) }
            e.element = clone
            replaceAt(nodeIdx, clone)
            node = clone
            if (lastNode eq furthestBlock) bookmark = nodeAfeIdx + 1
            // detach lastNode and append to node
            lastNode match {
              case p: DomNode if p.parent != null => p.parent.removeChild(p)
              case _ =>
            }
            node.appendChild(lastNode)
            lastNode = node
          }
        }
      }
      // insert lastNode at appropriate place with commonAncestor override
      if (lastNode.parent != null) lastNode.parent.removeChild(lastNode)
      val savedFoster = fosterParenting
      fosterParenting = true
      val loc = insertionLocation(commonAncestor)
      fosterParenting = savedFoster
      // only foster-parent when commonAncestor is a table-ish element
      val ca = commonAncestor
      if (ca.namespace == Ns.Html &&
        (ca.tagName == "table" || ca.tagName == "tbody" || ca.tagName == "tfoot" ||
          ca.tagName == "thead" || ca.tagName == "tr")) {
        insertNodeAt(loc, lastNode)
      } else if (ca.namespace == Ns.Html && ca.tagName == "template") {
        ca.templateContent.appendChild(lastNode)
      } else {
        ca.appendChild(lastNode)
      }
      // new clone of formatting element; move furthest block's children
      val fmtEntryIdx = afeIndexOf(fmtEl)
      val fmtEntry = afe(fmtEntryIdx)
      val clone = new DomElement(fmtEntry.name, fmtEntry.ns)
      fmtEntry.attrsSnapshot.foreach { case (n, v) => clone.addAttr(new DomAttr(n, v)) }
      while (furthestBlock.children.nonEmpty) {
        val c = furthestBlock.children(0)
        furthestBlock.removeChild(c)
        clone.appendChild(c)
      }
      furthestBlock.appendChild(clone)
      // AFE: remove old entry, insert new at bookmark
      val removeIdx = afeIndexOf(fmtEl)
      if (removeIdx >= 0) {
        if (removeIdx < bookmark) bookmark -= 1
        afe.remove(removeIdx)
      }
      val newEntry = new AfeEntry(clone, clone.tagName, clone.namespace, fmtEntry.attrsSnapshot,
        fmtEntry.tokStart, fmtEntry.tokEnd, fmtEntry.attrSpans)
      if (bookmark < 0) bookmark = 0
      if (bookmark > afe.length) bookmark = afe.length
      afe.insert(bookmark, newEntry)
      // stack: remove formatting element, insert clone below furthest block
      removeFromStack(fmtEl)
      insertAt(stack.lastIndexWhere(_ eq furthestBlock) + 1, clone)
    }
  }

  private def anyOtherEndTagInBody(name: String): Unit = {
    var i = stack.length - 1
    var done = false
    while (i >= 0 && !done) {
      val node = stack(i)
      // the reference's generic end-tag walk matches by tag name with NO
      // namespace check (genericEndTagInBody, parser/index.js: tagID
      // comparison, and the name→id map is injective) — so e.g. </title>
      // closes an open SVG title element
      if (node.tagName == name) {
        generateImpliedEndTags(name)
        popThrough(null, target = node)
        done = true
      } else if (isSpecialEl(node)) {
        ()
        done = true
      }
      i -= 1
    }
  }

  // ------------------------------------------------------------------
  // reset insertion mode (spec §13.2.4.1)
  private def resetInsertionMode(): Unit = {
    // The reference's reset map switches on the element's tagID with NO
    // namespace check (parser/index.js:566-630) — tagIDs are derived from the
    // lowercase token name, so e.g. a foreign <svg tr> resets to "in row" and
    // a foreign <math template> hits the TEMPLATE case. None of the names
    // matched here are SVG case-adjusted, so a direct name compare is exact.
    var i = stack.length - 1
    var done = false
    while (i >= 0 && !done) {
      var node = stack(i)
      val last = i == 0
      if (last && fragmentContext != null) node = fragmentContext
      node.tagName match {
        case "select" =>
          // _resetInsertionModeForSelect (parser/index.js:632-646) is also
          // tagID-based: the ancestor walk stops at ANY element named
          // template / matches ANY element named table, namespace-blind.
          // parse5 assigns this.insertionMode ONCE with the final answer, so
          // the trace must see a single transition — compute before setting
          // (a provisional InSelect then a correction would emit two events)
          var target = InSelect
          var j = i
          var stop = false
          while (j > 0 && !stop) {
            j -= 1
            val anc = stack(j)
            if (anc.tagName == "template") stop = true
            else if (anc.tagName == "table") { target = InSelectInTable; stop = true }
          }
          mode = target
          done = true
        case "td" | "th" if !last => mode = InCell; done = true
        case "tr"                 => mode = InRow; done = true
        case "tbody" | "thead" | "tfoot" => mode = InTableBody; done = true
        case "caption"                   => mode = InCaption; done = true
        case "colgroup"                  => mode = InColumnGroup; done = true
        case "table"                     => mode = InTable; done = true
        case "template" =>
          // tmplInsertionModeStack[0] of an empty stack is `undefined` in the
          // reference (a foreign template never pushed a mode) — see the
          // InsertionMode.Undefined scaladoc
          mode =
            if (templateModes.nonEmpty) templateModes(templateModes.length - 1)
            else Undefined
          done = true
        case "head" if !last => mode = InHead; done = true
        case "body"          => mode = InBody; done = true
        case "frameset"      => mode = InFrameset; done = true
        case "html" =>
          mode = if (headElement == null) BeforeHead else AfterHead
          done = true
        case _ =>
          if (last) { mode = InBody; done = true }
      }
      i -= 1
    }
  }

  // ------------------------------------------------------------------
  // foreign content helpers
  private def adjustedCurrentNode: DomElement = {
    if (stack.isEmpty) null
    else if (fragmentContext != null && stack.length == 1) fragmentContext
    else current
  }

  override def cdataAllowed: Boolean = {
    // the reference's tokenizer honors CDATA only in a foreign node that is
    // NOT an integration point (parse5 _setContextModes: inForeignNode =
    // foreign && !isIntegrationPoint) — at e.g. <math mtext>, `<![CDATA[`
    // becomes a bogus comment
    val acn = adjustedCurrentNode
    acn != null && acn.namespace != Ns.Html &&
      !HtmlMeta.isMathMlTextIntegrationPoint(acn) &&
      !HtmlMeta.isHtmlIntegrationPoint(acn)
  }

  /** True when the token must be processed via foreign-content rules. */
  private def useForeignRules(isStartTag: Boolean, isChar: Boolean, tagName: String): Boolean = {
    val acn = adjustedCurrentNode
    if (acn == null || acn.namespace == Ns.Html) return false
    if (HtmlMeta.isMathMlTextIntegrationPoint(acn)) {
      if (isStartTag && tagName != "mglyph" && tagName != "malignmark") return false
      if (isChar) return false
    }
    if (acn.namespace == Ns.MathMl && acn.tagName == "annotation-xml" &&
      isStartTag && tagName == "svg") return false
    if (HtmlMeta.isHtmlIntegrationPoint(acn) && (isStartTag || isChar)) return false
    true
  }

  private def adjustMathMlAttrs(tag: TagToken): Unit = {
    var i = 0
    while (i < tag.attrs.length) {
      if (tag.attrs(i).name == "definitionurl") tag.attrs(i).name = "definitionURL"
      i += 1
    }
  }

  private def adjustSvgAttrs(tag: TagToken): Unit = {
    var i = 0
    while (i < tag.attrs.length) {
      HtmlMeta.SvgAttrAdjust.get(tag.attrs(i).name).foreach(tag.attrs(i).name = _)
      i += 1
    }
  }

  private def adjustForeignAttrs(tag: TagToken): Unit = {
    var i = 0
    while (i < tag.attrs.length) {
      HtmlMeta.ForeignAttrAdjust.get(tag.attrs(i).name).foreach(tag.attrs(i).name = _)
      i += 1
    }
  }

  // ------------------------------------------------------------------
  // text-mode (RCDATA/RAWTEXT/script data) switching
  private def switchToTextParsing(tag: TagToken, tokenizerState: Int): Unit = {
    insertElement(tag, Ns.Html)
    tokenizer.state = tokenizerState
    originalMode = mode
    mode = Text
  }

  // ==================================================================
  // TokenSink implementation
  // ==================================================================

  private def applyIgnoreLf(data: String): String = {
    if (ignoreNextLf) {
      ignoreNextLf = false
      if (data.nonEmpty && data.charAt(0) == '\n') data.substring(1) else data
    } else data
  }

  override def onChars(data0: String, start: Int, end: Int): Unit = {
    if (stopped) return

    val data = applyIgnoreLf(data0)
    if (data.isEmpty) return
    if (useForeignRules(isStartTag = false, isChar = true, null)) {
      insertCharacters(data, start, end)
      framesetOk = false
    } else processChars(data, isWs = false, start, end)
  }

  override def onWhitespace(data0: String, start: Int, end: Int): Unit = {
    if (stopped) return

    val data = applyIgnoreLf(data0)
    if (data.isEmpty) return
    if (useForeignRules(isStartTag = false, isChar = true, null)) {
      insertCharacters(data, start, end)
    } else processChars(data, isWs = true, start, end)
  }

  // Slice-run carrier for the Range callbacks: while set (for the duration
  // of ONE token dispatch), a null `data` in the char paths means "the run
  // is input[sliceFrom, sliceUntil)" — DomText then extends in place
  // without ever materializing per-run strings.
  private var sliceSrc: String = null
  private var sliceFrom = 0
  private var sliceUntil = 0

  private def sliceString(): String = sliceSrc.substring(sliceFrom, sliceUntil)

  override def onCharsRange(src: String, from: Int, until: Int,
                            start: Int, end: Int): Unit = {
    if (stopped) return
    var f = from
    if (ignoreNextLf) {
      ignoreNextLf = false
      if (src.charAt(f) == '\n') f += 1
    }
    if (f >= until) return
    sliceSrc = src; sliceFrom = f; sliceUntil = until
    if (useForeignRules(isStartTag = false, isChar = true, null)) {
      insertCharacters(null, start, end)
      framesetOk = false
    } else processChars(null, isWs = false, start, end)
    sliceSrc = null
  }

  override def onWhitespaceRange(src: String, from: Int, until: Int,
                                 start: Int, end: Int): Unit = {
    if (stopped) return
    var f = from
    if (ignoreNextLf) {
      ignoreNextLf = false
      if (src.charAt(f) == '\n') f += 1
    }
    if (f >= until) return
    sliceSrc = src; sliceFrom = f; sliceUntil = until
    if (useForeignRules(isStartTag = false, isChar = true, null)) {
      insertCharacters(null, start, end)
      ()
    } else processChars(null, isWs = true, start, end)
    sliceSrc = null
  }

  /** One call per batched NULL_CHARACTER token (the tokenizer accumulates
    * the whole run, parse5-style): foreign content replaces the run with a
    * single U+FFFD spanning the full token, and the mode machine fires once.
    */
  override def onNull(start: Int, end: Int, count: Int): Unit = {
    if (stopped) return

    ignoreNextLf = false
    if (useForeignRules(isStartTag = false, isChar = true, null)) {
      insertCharacters("�", start, end)
      ()
    } else processNull(start, end, count)
  }

  /** NULL character tokens outside foreign content follow the reference's
    * onNullCharacter mode switch (parser/index.js:770-824): the token itself
    * is never inserted (except the literal NUL in TEXT mode), but it DRIVES
    * the pre-body structural transitions (quirks, html/head/body insertion),
    * re-enters table-text buffering, pops an open colgroup, and knocks
    * after-body modes back to in-body — and in every other mode it is
    * silently ignored (parse5's parser adds no error here; the tokenizer
    * already reported unexpected-null-character).
    */
  private def processNull(start: Int, end: Int, count: Int): Unit = {
    mode match {
      case Initial =>
        err("missing-doctype", start, start) // beforeToken span
        document.quirksMode = "quirks"
        mode = BeforeHtml
        processNull(start, end, count)
      case BeforeHtml =>
        insertHtmlRoot(); mode = BeforeHead; processNull(start, end, count)
      case BeforeHead =>
        headElement = insertFakeElement("head"); mode = InHead; processNull(start, end, count)
      case InHead =>
        pop(); mode = AfterHead; processNull(start, end, count)
      case InHeadNoscript =>
        err("disallowed-content-in-noscript-in-head", start, end)
        pop(); mode = InHead; processNull(start, end, count)
      case AfterHead =>
        insertFakeElement("body")
        mode = InBody // the null itself is then ignored in body
      case Text =>
        // parse5 TEXT mode inserts the literal NUL (its tokenizer replaces
        // NULs in the rawtext states, so this only ever fires for exotic
        // driver-forced states — mirrored for exactness)
        insertCharacters("\u0000" * count, start, end)
        ()
      case InTable | InTableBody | InRow =>
        // characterInTable: over a table-structure element the pending
        // buffer resets and mode enters "in table text" (the null ignored);
        // otherwise modeInBody ignores the null entirely. The structure
        // check is tagID-based in parse5, hence namespace-blind here.
        val t = current
        if (t != null && (t.tagName == "table" || t.tagName == "tbody" ||
            t.tagName == "tfoot" || t.tagName == "thead" || t.tagName == "tr")) {
          pendingTableChars.clear()
          originalMode = mode
          mode = InTableText
        }
      case InColumnGroup =>
        if (current != null && current.tagName == "colgroup") {
          pop(); mode = InTable; processNull(start, end, count)
        }
      case AfterBody | AfterAfterBody =>
        mode = InBody // modeInBody then ignores the null
      case _ => // ignored (in body, caption, cell, select, template,
                // frameset modes, in-table-text, Undefined)
    }
  }

  override def onStartTag(tag: TagToken): Unit = {
    if (stopped) return
    curTokStart = tag.start; curTokEnd = tag.end
    if (captureSpans) {
      locTokStart = tag.start; locTokEnd = tag.end; locTokEndTagName = null
    }
    setTokContext("START_TAG", tag.name)
    ignoreNextLf = false
    if (useForeignRules(isStartTag = true, isChar = false, tag.name))
      foreignStartTag(tag)
    else processStartTag(tag)
    // parse5 onStartTag post-dispatch check (parser/index.js:901-903)
    if (tag.selfClosing && !tag.ackSelfClosing)
      err("non-void-html-element-start-tag-with-trailing-solidus", tag.start, tag.end)
  }

  override def onEndTag(tag: TagToken): Unit = {
    if (stopped) return
    curTokStart = tag.start; curTokEnd = tag.end
    if (captureSpans) {
      locTokStart = tag.start; locTokEnd = tag.end; locTokEndTagName = tag.name
    }
    setTokContext("END_TAG", tag.name)
    ignoreNextLf = false
    if (useForeignRules(isStartTag = false, isChar = false, tag.name))
      foreignEndTag(tag)
    else processEndTag(tag)
  }

  override def onComment(data: String, start: Int, end: Int): Unit = {
    if (stopped) return

    ignoreNextLf = false
    // dispatcher: a comment in foreign content is inserted at the current
    // node (spec §13.2.6.5 "A comment token"), not routed by insertion mode
    if (useForeignRules(isStartTag = false, isChar = false, null)) {
      insertComment(data, start, end, null)
      return
    }
    if (mode == InTableText) { flushTableText(); mode = originalMode }
    mode match {
      case Initial | BeforeHtml | AfterAfterBody | AfterAfterFrameset =>
        insertComment(data, start, end, document)
      case AfterBody =>
        insertComment(data, start, end, stack(0))
      case Undefined => // dropped (see InsertionMode.Undefined)
      case _ =>
        insertComment(data, start, end, null)
    }
  }

  override def onDoctype(d: DoctypeTok): Unit = {
    if (stopped) return

    ignoreNextLf = false
    processDoctype(d)
  }

  /** parse5 onDoctype is purely mode-based (parser/index.js:874-895): the
    * doctype is inserted only in "initial" (erring when non-conforming);
    * the four head-adjacent modes report misplaced-doctype; in-table-text
    * flushes and retries in the original mode; every other mode — body,
    * foreign content, Undefined — ignores it silently with no error.
    */
  private def processDoctype(d: DoctypeTok): Unit = {
    mode match {
      case Initial =>
        val node = new DomDoctype(
          if (d.name == null) "" else d.name,
          if (d.publicId == null) "" else d.publicId,
          if (d.systemId == null) "" else d.systemId
        )
        if (captureSpans) { node.startOffset = d.start; node.endOffset = d.end }
        document.appendChild(node)
        // parse5 doctypeInInitialMode + doctype.isConforming
        if (!(d.name == "html" && d.publicId == null &&
            (d.systemId == null || d.systemId == "about:legacy-compat")))
          err("non-conforming-doctype", d.start, d.end)
        document.quirksMode =
          if (d.forceQuirks) "quirks"
          else HtmlMeta.documentMode(
            if (d.name == null) "" else d.name, d.publicId, d.systemId)
        mode = BeforeHtml
      case BeforeHead | InHead | InHeadNoscript | AfterHead =>
        err("misplaced-doctype", d.start, d.end)
      case InTableText =>
        flushTableText(); mode = originalMode
        processDoctype(d)
      case _ => ()
    }
  }

  override def onEof(pos: Int): Unit = {
    if (stopped) return

    processEof(pos)
    // parse5 stopParsing (parser/index.js:2204-2231): EOF end locations for
    // whatever remains open — everything above <body> unconditionally, then
    // html only when it never saw a matching end tag, and body only when
    // html itself lacked one AND body never saw its own. The walk lives
    // INSIDE stopParse, so it only fires when the EOF dispatch reached a
    // stopping mode (`stopped`): in the Undefined mode it never does.
    if (captureSpans && stopped) {
      val target = if (fragmentContext != null) 0 else 2
      var i = stack.length - 1
      while (i >= target) { setEndLocationAt(stack(i), pos, pos, null); i -= 1 }
      if (fragmentContext == null && stack.nonEmpty) {
        val html = stack(0)
        if (html.startOffset >= 0 && !html.endTagMatched) {
          setEndLocationAt(html, pos, pos, null)
          if (stack.length >= 2) {
            val body = stack(1)
            if (body.startOffset >= 0 && !body.endTagMatched)
              setEndLocationAt(body, pos, pos, null)
          }
        }
      }
    }
    stack.clear()
  }

  override def onParseError(code: String, start: Int, end: Int): Unit =
    err(code, start, end)

  private def processEof(pos: Int): Unit = {
    mode match {
      case Initial =>
        err("missing-doctype", pos, pos) // beforeToken span of the EOF token
        document.quirksMode = "quirks"
        mode = BeforeHtml; processEof(pos)
      case BeforeHtml =>
        insertHtmlRoot(); mode = BeforeHead; processEof(pos)
      case BeforeHead =>
        headElement = insertFakeElement("head"); mode = InHead; processEof(pos)
      case InHead =>
        pop(); mode = AfterHead; processEof(pos)
      case InHeadNoscript =>
        err("open-elements-left-after-eof", pos, pos)
        pop(); mode = InHead; processEof(pos)
      case AfterHead =>
        insertFakeElement("body"); mode = InBody; processEof(pos)
      case InBody | InTable | InCaption | InColumnGroup | InTableBody | InRow |
          InCell | InSelect | InSelectInTable =>
        if (templateModes.nonEmpty) eofInTemplate(pos)
        else stopped = true
      case Text =>
        err("eof-in-element-that-can-contain-only-text", pos, pos)
        pop()
        mode = originalMode
        processEof(pos)
      case InTableText =>
        flushTableText()
        mode = originalMode
        processEof(pos)
      case InTemplate =>
        eofInTemplate(pos)
      case AfterBody | InFrameset | AfterFrameset | AfterAfterBody |
          AfterAfterFrameset =>
        stopped = true
      case _ =>
        // InsertionMode.Undefined: parse5's onEof switch has no case for the
        // literal-undefined mode (parser/index.js:1126, default: do nothing),
        // so stopParse — and with it the EOF end-location walk — never runs.
        // Open elements keep their initial start-tag-only spans.
        ()
    }
  }

  private def eofInTemplate(pos: Int): Unit = {
    if (!hasTemplateOnStack) { stopped = true; return }
    ()
    popThrough("template")
    afeClearToLastMarker()
    if (templateModes.nonEmpty) templateModes.remove(templateModes.length - 1)
    resetInsertionMode()
    processEof(pos)
  }

  // ------------------------------------------------------------------
  // character dispatch
  private def processChars(data: String, isWs: Boolean, start: Int, end: Int): Unit = {
    if (mode == Undefined) return // reference drops HTML-rule tokens (see InsertionMode.Undefined)
    mode match {
      case Initial | BeforeHtml | BeforeHead =>
        if (isWs) () // ignore
        else { anythingElseChars(data, start, end) }
      case InHead | InHeadNoscript | AfterHead =>
        if (isWs) insertCharacters(data, start, end)
        else anythingElseChars(data, start, end)
      case InBody | InCaption | InCell | InTemplate =>
        reconstructActiveFormattingElements()
        insertCharacters(data, start, end)
        if (!isWs) framesetOk = false
      case Text =>
        insertCharacters(data, start, end)
      case InTable | InTableBody | InRow =>
        // parse5 characterInTable: TABLE_STRUCTURE_TAGS is exactly
        // {table, tbody, tfoot, thead, tr} — NOT template — and the check
        // is tagID-based, hence namespace-blind (parser/index.js:51,2434)
        val t = current
        if (t != null &&
          (t.tagName == "table" || t.tagName == "tbody" || t.tagName == "tfoot" ||
            t.tagName == "thead" || t.tagName == "tr")) {
          pendingTableChars.clear()
          originalMode = mode
          mode = InTableText
          processChars(data, isWs, start, end)
        } else {
          ()
          fosterParenting = true
          reconstructActiveFormattingElements()
          insertCharacters(data, start, end)
          if (!isWs) framesetOk = false
          fosterParenting = false
        }
      case InTableText =>
        // buffered across tokens — the slice carrier is per-dispatch, so
        // materialize here (rare path: only chars directly in table modes)
        pendingTableChars += ((if (data == null) sliceString() else data, isWs, start, end))
      case InColumnGroup =>
        if (isWs) insertCharacters(data, start, end)
        else {
          // leading whitespace already split off by the tokenizer
          if (current.namespace == Ns.Html && current.tagName == "colgroup") {
            pop(); mode = InTable
            processChars(data, isWs, start, end)
          } else ()
        }
      case InSelect | InSelectInTable =>
        insertCharacters(data, start, end)
      case AfterBody | AfterAfterBody =>
        if (isWs) {
          // process per in-body rules
          reconstructActiveFormattingElements()
          insertCharacters(data, start, end)
        } else {
          ()
          mode = InBody
          processChars(data, isWs, start, end)
        }
      case InFrameset | AfterFrameset =>
        if (isWs) insertCharacters(data, start, end)
        else ()
      case AfterAfterFrameset =>
        // whitespace here reprocesses per in-body rules, which reconstructs
        // the active formatting list (spec "after after frameset")
        if (isWs) {
          reconstructActiveFormattingElements()
          insertCharacters(data, start, end)
        } else ()
      case _ =>
    }
  }

  /** "anything else" handling for chars in the pre-body modes. */
  private def anythingElseChars(data: String, start: Int, end: Int): Unit = {
    mode match {
      case Initial =>
        err("missing-doctype", start, start) // beforeToken span
        document.quirksMode = "quirks"
        mode = BeforeHtml
        anythingElseChars(data, start, end)
      case BeforeHtml =>
        insertHtmlRoot()
        mode = BeforeHead
        anythingElseChars(data, start, end)
      case BeforeHead =>
        headElement = insertFakeElement("head")
        mode = InHead
        anythingElseChars(data, start, end)
      case InHead =>
        pop()
        mode = AfterHead
        anythingElseChars(data, start, end)
      case InHeadNoscript =>
        err("disallowed-content-in-noscript-in-head", start, end)
        pop()
        mode = InHead
        anythingElseChars(data, start, end)
      case AfterHead =>
        insertFakeElement("body")
        mode = InBody
        processChars(data, isWs = false, start, end)
      case _ =>
        processChars(data, isWs = false, start, end)
    }
  }

  private def flushTableText(): Unit = {
    val anyNonWs = pendingTableChars.exists(!_._2)
    if (anyNonWs) {
      var i = 0
      while (i < pendingTableChars.length) {
        val (d, ws, s, e) = pendingTableChars(i)
        ()
        fosterParenting = true
        reconstructActiveFormattingElements()
        insertCharacters(d, s, e)
        if (!ws) framesetOk = false
        fosterParenting = false
        i += 1
      }
    } else {
      var i = 0
      while (i < pendingTableChars.length) {
        val (d, _, s, e) = pendingTableChars(i)
        insertCharacters(d, s, e)
        i += 1
      }
    }
    pendingTableChars.clear()
  }

  // ------------------------------------------------------------------
  // start tags
  // the attribute names of each merge target (the html or body element)
  // that has had more than TagToken.ScanLimit attributes in one merge;
  // later merges into it add to its set
  private var mergedNames: java.util.IdentityHashMap[DomElement, java.util.HashSet[String]] = null

  /** Adds `tag`'s attributes that `el` lacks, as a second `<html>` or
    * `<body>` tag does. A few attributes are checked by a scan; past that a
    * set of `el`'s names answers, so a flood of attributes, or of merges,
    * stays linear.
    */
  private def mergeAttrsInto(el: DomElement, tag: TagToken): Unit = {
    var names = if (mergedNames == null) null else mergedNames.get(el)
    if (names == null && el.attrCount + tag.attrs.length > TagToken.ScanLimit) {
      names = new java.util.HashSet[String]
      var j = 0
      while (j < el.attrCount) { names.add(el.attrAt(j).name); j += 1 }
      if (mergedNames == null) mergedNames = new java.util.IdentityHashMap
      mergedNames.put(el, names)
    }
    var i = 0
    while (i < tag.attrs.length) {
      val a = tag.attrs(i)
      val absent = if (names == null) !el.hasAttr(a.name) else names.add(a.name)
      if (absent) el.addAttr(new DomAttr(a.name, a.value, a.start, a.end))
      i += 1
    }
  }

  private def processStartTag(tag: TagToken): Unit = {
    if (mode == Undefined) return // reference drops HTML-rule tokens (see InsertionMode.Undefined)
    if (mode == InTableText) {
      flushTableText()
      mode = originalMode
    }
    mode match {
      case Initial =>
        err("missing-doctype", tag.start, tag.start) // beforeToken span
        document.quirksMode = "quirks"
        mode = BeforeHtml
        processStartTag(tag)
      case BeforeHtml =>
        if (tag.name == "html") {
          val el = createElement(tag, Ns.Html)
          document.appendChild(el)
          push(el)
          mode = BeforeHead
        } else {
          insertHtmlRoot()
          mode = BeforeHead
          processStartTag(tag)
        }
      case BeforeHead =>
        tag.name match {
          case "html" => startTagInBody(tag)
          case "head" =>
            headElement = insertElement(tag, Ns.Html)
            mode = InHead
          case _ =>
            headElement = insertFakeElement("head")
            mode = InHead
            processStartTag(tag)
        }
      case InHead        => startTagInHead(tag)
      case InHeadNoscript =>
        tag.name match {
          case "html" => startTagInBody(tag)
          case "basefont" | "bgsound" | "head" | "link" | "meta" | "noframes" |
              "style" =>
            startTagInHead(tag)
          case "noscript" =>
            err("nested-noscript-in-head", tag.start, tag.end)
          case _ =>
            err("disallowed-content-in-noscript-in-head", tag.start, tag.end)
            pop(); mode = InHead
            processStartTag(tag)
        }
      case AfterHead =>
        tag.name match {
          case "html" => startTagInBody(tag)
          case "body" =>
            insertElement(tag, Ns.Html)
            framesetOk = false
            mode = InBody
          case "frameset" =>
            insertElement(tag, Ns.Html)
            mode = InFrameset
          case "base" | "basefont" | "bgsound" | "link" | "meta" | "noframes" |
              "script" | "style" | "template" | "title" =>
            err("abandoned-head-element-child", tag.start, tag.end)
            push(headElement)
            startTagInHead(tag)
            removeFromStack(headElement)
          case "head" =>
            err("misplaced-start-tag-for-head-element", tag.start, tag.end)
          case _ =>
            insertFakeElement("body")
            mode = InBody
            processStartTag(tag)
        }
      case InBody => startTagInBody(tag)
      case Text   => // unreachable: text mode only sees chars/end tags/EOF
      case InTable => startTagInTable(tag)
      case InCaption =>
        tag.name match {
          case "caption" | "col" | "colgroup" | "tbody" | "td" | "tfoot" | "th" |
              "thead" | "tr" =>
            if (inScope(TableScope, "caption")) {
              closeCaption()
              processStartTag(tag)
            } else ()
          case _ => startTagInBody(tag)
        }
      case InColumnGroup =>
        tag.name match {
          case "html" => startTagInBody(tag)
          case "col" =>
            appendElement(tag, Ns.Html)
            tag.ackSelfClosing = true
          case "template" => startTagInHead(tag)
          case _ =>
            if (current.namespace == Ns.Html && current.tagName == "colgroup") {
              pop(); mode = InTable
              processStartTag(tag)
            } else ()
        }
      case InTableBody =>
        tag.name match {
          case "tr" =>
            popBackTo(TableBodyContext)
            insertElement(tag, Ns.Html)
            mode = InRow
          case "th" | "td" =>
            ()
            popBackTo(TableBodyContext)
            insertFakeElement("tr")
            mode = InRow
            processStartTag(tag)
          case "caption" | "col" | "colgroup" | "tbody" | "tfoot" | "thead" =>
            if (inScope(TableScope, null, TableSections)) {
              popBackTo(TableBodyContext)
              pop()
              mode = InTable
              processStartTag(tag)
            } else ()
          case _ => startTagInTable(tag)
        }
      case InRow =>
        tag.name match {
          case "th" | "td" =>
            popBackTo(TableRowContext)
            insertElement(tag, Ns.Html)
            mode = InCell
            afeInsertMarker()
          case "caption" | "col" | "colgroup" | "tbody" | "tfoot" | "thead" | "tr" =>
            if (inScope(TableScope, "tr")) {
              popBackTo(TableRowContext)
              pop()
              mode = InTableBody
              processStartTag(tag)
            } else ()
          case _ => startTagInTable(tag)
        }
      case InCell =>
        tag.name match {
          case "caption" | "col" | "colgroup" | "tbody" | "td" | "tfoot" | "th" |
              "thead" | "tr" =>
            if (inScope(TableScope, null, Cells)) {
              closeCell()
              processStartTag(tag)
            } else ()
          case _ => startTagInBody(tag)
        }
      case InSelect        => startTagInSelect(tag)
      case InSelectInTable =>
        tag.name match {
          case "caption" | "table" | "tbody" | "tfoot" | "thead" | "tr" | "td" |
              "th" =>
            ()
            popThrough("select")
            resetInsertionMode()
            processStartTag(tag)
          case _ => startTagInSelect(tag)
        }
      case InTemplate =>
        tag.name match {
          case "base" | "basefont" | "bgsound" | "link" | "meta" | "noframes" |
              "script" | "style" | "template" | "title" =>
            startTagInHead(tag)
          case "caption" | "colgroup" | "tbody" | "tfoot" | "thead" =>
            templateModes.remove(templateModes.length - 1)
            templateModes += InTable
            mode = InTable
            processStartTag(tag)
          case "col" =>
            templateModes.remove(templateModes.length - 1)
            templateModes += InColumnGroup
            mode = InColumnGroup
            processStartTag(tag)
          case "tr" =>
            templateModes.remove(templateModes.length - 1)
            templateModes += InTableBody
            mode = InTableBody
            processStartTag(tag)
          case "td" | "th" =>
            templateModes.remove(templateModes.length - 1)
            templateModes += InRow
            mode = InRow
            processStartTag(tag)
          case _ =>
            templateModes.remove(templateModes.length - 1)
            templateModes += InBody
            mode = InBody
            processStartTag(tag)
        }
      case AfterBody =>
        if (tag.name == "html") startTagInBody(tag)
        else {
          ()
          mode = InBody
          processStartTag(tag)
        }
      case InFrameset =>
        tag.name match {
          case "html"     => startTagInBody(tag)
          case "frameset" => insertElement(tag, Ns.Html)
          case "frame" =>
            appendElement(tag, Ns.Html)
            tag.ackSelfClosing = true
          case "noframes" => startTagInHead(tag)
          case _          => ()
        }
      case AfterFrameset =>
        tag.name match {
          case "html"     => startTagInBody(tag)
          case "noframes" => startTagInHead(tag)
          case _          => ()
        }
      case AfterAfterBody =>
        if (tag.name == "html") startTagInBody(tag)
        else {
          ()
          mode = InBody
          processStartTag(tag)
        }
      case AfterAfterFrameset =>
        tag.name match {
          case "html"     => startTagInBody(tag)
          case "noframes" => startTagInHead(tag)
          case _          => ()
        }
      case _ =>
    }
  }

  private def startTagInHead(tag: TagToken): Unit = {
    tag.name match {
      case "html" => startTagInBody(tag)
      case "base" | "basefont" | "bgsound" | "link" | "meta" =>
        appendElement(tag, Ns.Html)
        tag.ackSelfClosing = true
      case "title" => switchToTextParsing(tag, TokenizerState.Rcdata)
      case "noscript" =>
        if (scriptingEnabled) switchToTextParsing(tag, TokenizerState.Rawtext)
        else {
          insertElement(tag, Ns.Html)
          mode = InHeadNoscript
        }
      case "noframes" | "style" => switchToTextParsing(tag, TokenizerState.Rawtext)
      case "script" => switchToTextParsing(tag, TokenizerState.ScriptData)
      case "template" =>
        insertElement(tag, Ns.Html)
        afeInsertMarker()
        framesetOk = false
        mode = InTemplate
        templateModes += InTemplate
      case "head" =>
        err("misplaced-start-tag-for-head-element", tag.start, tag.end)
      case _ =>
        pop()
        mode = AfterHead
        processStartTag(tag)
    }
  }

  private def startTagInTable(tag: TagToken): Unit = {
    tag.name match {
      case "caption" =>
        popBackTo(TableContext)
        afeInsertMarker()
        insertElement(tag, Ns.Html)
        mode = InCaption
      case "colgroup" =>
        popBackTo(TableContext)
        insertElement(tag, Ns.Html)
        mode = InColumnGroup
      case "col" =>
        popBackTo(TableContext)
        insertFakeElement("colgroup")
        mode = InColumnGroup
        processStartTag(tag)
      case "tbody" | "tfoot" | "thead" =>
        popBackTo(TableContext)
        insertElement(tag, Ns.Html)
        mode = InTableBody
      case "td" | "th" | "tr" =>
        popBackTo(TableContext)
        insertFakeElement("tbody")
        mode = InTableBody
        processStartTag(tag)
      case "table" =>
        ()
        if (inScope(TableScope, "table")) {
          popThrough("table")
          resetInsertionMode()
          processStartTag(tag)
        }
      case "style" | "script" | "template" => startTagInHead(tag)
      case "input" =>
        val ty = tag.attr("type")
        if (ty != null && ty.equalsIgnoreCase("hidden")) {
          ()
          appendElement(tag, Ns.Html)
          tag.ackSelfClosing = true
        } else anythingElseInTable(tag)
      case "form" =>
        ()
        if (formElement == null && !hasTemplateOnStack) {
          formElement = insertElement(tag, Ns.Html)
          pop()
        }
      case _ => anythingElseInTable(tag)
    }
  }

  private def anythingElseInTable(tag: TagToken): Unit = {
    ()
    fosterParenting = true
    startTagInBody(tag)
    fosterParenting = false
  }

  private def startTagInSelect(tag: TagToken): Unit = {
    tag.name match {
      case "html" => startTagInBody(tag)
      case "option" =>
        if (current.namespace == Ns.Html && current.tagName == "option") pop()
        insertElement(tag, Ns.Html)
      case "optgroup" =>
        if (current.namespace == Ns.Html && current.tagName == "option") pop()
        if (current.namespace == Ns.Html && current.tagName == "optgroup") pop()
        insertElement(tag, Ns.Html)
      case "hr" =>
        if (current.namespace == Ns.Html && current.tagName == "option") pop()
        if (current.namespace == Ns.Html && current.tagName == "optgroup") pop()
        appendElement(tag, Ns.Html)
        tag.ackSelfClosing = true
      case "input" | "keygen" | "textarea" | "select" =>
        ()
        if (hasInSelectScope("select")) {
          popThrough("select")
          resetInsertionMode()
          if (tag.name != "select") processStartTag(tag)
        }
      case "script" | "template" => startTagInHead(tag)
      case _                     => ()
    }
  }

  private def closePElement(): Unit = {
    generateImpliedEndTags("p")
    if (!(current.namespace == Ns.Html && current.tagName == "p"))
      ()
    popThrough("p")
  }

  private def closePIfInButtonScope(): Unit =
    if (pInButtonScope) closePElement()

  private def closeCaption(): Unit = {
    generateImpliedEndTags(null)
    if (!(current.namespace == Ns.Html && current.tagName == "caption"))
      ()
    popThrough("caption")
    afeClearToLastMarker()
    mode = InTable
  }

  private def closeCell(): Unit = {
    generateImpliedEndTags(null)
    if (!(current.namespace == Ns.Html &&
      (current.tagName == "td" || current.tagName == "th")))
      ()
    popThrough(null, Cells)
    afeClearToLastMarker()
    mode = InRow
  }

  // ------------------------------------------------------------------
  // "in body" start tags (spec §13.2.6.4.7)
  private def startTagInBody(tag: TagToken): Unit = {
    tag.name match {
      case "html" =>
        ()
        if (!hasTemplateOnStack && stack.nonEmpty) mergeAttrsInto(stack(0), tag)

      case "base" | "basefont" | "bgsound" | "link" | "meta" | "noframes" |
          "script" | "style" | "template" | "title" =>
        startTagInHead(tag)

      case "body" =>
        ()
        if (stack.length > 1 && stack(1).namespace == Ns.Html &&
          stack(1).tagName == "body" && !hasTemplateOnStack) {
          framesetOk = false
          mergeAttrsInto(stack(1), tag)
        }

      case "frameset" =>
        ()
        if (stack.length > 1 && stack(1).namespace == Ns.Html &&
          stack(1).tagName == "body" && framesetOk) {
          val body = stack(1)
          if (body.parent != null) body.parent.removeChild(body)
          while (stack.length > 1) pop()
          insertElement(tag, Ns.Html)
          mode = InFrameset
        }

      case "address" | "article" | "aside" | "blockquote" | "center" |
          "details" | "dialog" | "dir" | "div" | "dl" | "fieldset" |
          "figcaption" | "figure" | "footer" | "header" | "hgroup" | "main" |
          "menu" | "nav" | "ol" | "p" | "section" | "summary" | "ul" =>
        closePIfInButtonScope()
        insertElement(tag, Ns.Html)

      case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
        closePIfInButtonScope()
        if (current.namespace == Ns.Html && HtmlMeta.Headings.contains(current.tagName)) {
          ()
          pop()
        }
        insertElement(tag, Ns.Html)

      case "pre" | "listing" =>
        closePIfInButtonScope()
        insertElement(tag, Ns.Html)
        ignoreNextLf = true
        framesetOk = false

      case "form" =>
        if (formElement != null && !hasTemplateOnStack)
          ()
        else {
          closePIfInButtonScope()
          val el = insertElement(tag, Ns.Html)
          if (!hasTemplateOnStack) formElement = el
        }

      case "li" =>
        framesetOk = false
        var i = stack.length - 1
        var done = false
        while (i >= 0 && !done) {
          val node = stack(i)
          if (node.namespace == Ns.Html && node.tagName == "li") {
            generateImpliedEndTags("li")
            if (!(current.namespace == Ns.Html && current.tagName == "li"))
              ()
            popThrough("li")
            done = true
          } else if (isSpecialEl(node) &&
            !(node.namespace == Ns.Html &&
              (node.tagName == "address" || node.tagName == "div" || node.tagName == "p")))
            done = true
          i -= 1
        }
        closePIfInButtonScope()
        insertElement(tag, Ns.Html)

      case "dd" | "dt" =>
        framesetOk = false
        var i = stack.length - 1
        var done = false
        while (i >= 0 && !done) {
          val node = stack(i)
          if (node.namespace == Ns.Html &&
            (node.tagName == "dd" || node.tagName == "dt")) {
            generateImpliedEndTags(node.tagName)
            if (!(current.namespace == Ns.Html && current.tagName == node.tagName))
              ()
            popThrough(node.tagName)
            done = true
          } else if (isSpecialEl(node) &&
            !(node.namespace == Ns.Html &&
              (node.tagName == "address" || node.tagName == "div" || node.tagName == "p")))
            done = true
          i -= 1
        }
        closePIfInButtonScope()
        insertElement(tag, Ns.Html)

      case "plaintext" =>
        closePIfInButtonScope()
        insertElement(tag, Ns.Html)
        tokenizer.state = TokenizerState.Plaintext

      case "button" =>
        if (inScope(DefaultScope, "button")) {
          ()
          generateImpliedEndTags(null)
          popThrough("button")
        }
        reconstructActiveFormattingElements()
        insertElement(tag, Ns.Html)
        framesetOk = false

      case "a" =>
        val existing = afeEntryAfterMarker("a")
        if (existing != null) {
          ()
          adoptionAgency("a")
          if (existing.element != null) {
            afeRemove(existing.element)
            removeFromStack(existing.element)
          }
        }
        reconstructActiveFormattingElements()
        val el = insertElement(tag, Ns.Html)
        afePush(el, tag)

      case "b" | "big" | "code" | "em" | "font" | "i" | "s" | "small" |
          "strike" | "strong" | "tt" | "u" =>
        reconstructActiveFormattingElements()
        val el = insertElement(tag, Ns.Html)
        afePush(el, tag)

      case "nobr" =>
        reconstructActiveFormattingElements()
        if (inScope(DefaultScope, "nobr")) {
          ()
          adoptionAgency("nobr")
          reconstructActiveFormattingElements()
        }
        val el = insertElement(tag, Ns.Html)
        afePush(el, tag)

      case "applet" | "marquee" | "object" =>
        reconstructActiveFormattingElements()
        insertElement(tag, Ns.Html)
        afeInsertMarker()
        framesetOk = false

      case "table" =>
        if (document.quirksMode != "quirks" && pInButtonScope) closePElement()
        insertElement(tag, Ns.Html)
        framesetOk = false
        mode = InTable

      case "area" | "br" | "embed" | "img" | "keygen" | "wbr" =>
        reconstructActiveFormattingElements()
        appendElement(tag, Ns.Html)
        tag.ackSelfClosing = true
        framesetOk = false

      case "input" =>
        reconstructActiveFormattingElements()
        appendElement(tag, Ns.Html)
        tag.ackSelfClosing = true
        val ty = tag.attr("type")
        if (ty == null || !ty.equalsIgnoreCase("hidden")) framesetOk = false

      case "param" | "source" | "track" =>
        appendElement(tag, Ns.Html)
        tag.ackSelfClosing = true

      case "hr" =>
        closePIfInButtonScope()
        appendElement(tag, Ns.Html)
        tag.ackSelfClosing = true
        framesetOk = false

      case "image" =>
        ()
        tag.name = "img"
        startTagInBody(tag)

      case "textarea" =>
        insertElement(tag, Ns.Html)
        ignoreNextLf = true
        tokenizer.state = TokenizerState.Rcdata
        originalMode = mode
        framesetOk = false
        mode = Text

      case "xmp" =>
        closePIfInButtonScope()
        reconstructActiveFormattingElements()
        framesetOk = false
        switchToTextParsing(tag, TokenizerState.Rawtext)

      case "iframe" =>
        framesetOk = false
        switchToTextParsing(tag, TokenizerState.Rawtext)

      case "noembed" =>
        switchToTextParsing(tag, TokenizerState.Rawtext)

      case "noscript" if scriptingEnabled =>
        switchToTextParsing(tag, TokenizerState.Rawtext)

      case "select" =>
        reconstructActiveFormattingElements()
        insertElement(tag, Ns.Html)
        framesetOk = false
        mode =
          if (mode == InTable || mode == InCaption || mode == InTableBody ||
            mode == InRow || mode == InCell) InSelectInTable
          else InSelect

      case "optgroup" | "option" =>
        if (current.namespace == Ns.Html && current.tagName == "option") pop()
        reconstructActiveFormattingElements()
        insertElement(tag, Ns.Html)

      case "rb" | "rtc" =>
        if (inScope(DefaultScope, "ruby")) {
          generateImpliedEndTags(null)
          if (!(current.namespace == Ns.Html && current.tagName == "ruby"))
            ()
        }
        insertElement(tag, Ns.Html)

      case "rp" | "rt" =>
        if (inScope(DefaultScope, "ruby")) {
          generateImpliedEndTags("rtc")
          if (!(current.namespace == Ns.Html &&
            (current.tagName == "ruby" || current.tagName == "rtc")))
            ()
        }
        insertElement(tag, Ns.Html)

      case "math" =>
        reconstructActiveFormattingElements()
        adjustMathMlAttrs(tag)
        adjustForeignAttrs(tag)
        insertForeignElement(tag, Ns.MathMl)

      case "svg" =>
        reconstructActiveFormattingElements()
        adjustSvgAttrs(tag)
        adjustForeignAttrs(tag)
        insertForeignElement(tag, Ns.Svg)

      case "caption" | "col" | "colgroup" | "frame" | "head" | "tbody" | "td" |
          "tfoot" | "th" | "thead" | "tr" =>
        ()

      case _ =>
        reconstructActiveFormattingElements()
        insertElement(tag, Ns.Html)
    }
  }

  private def insertForeignElement(tag: TagToken, ns: Int): Unit = {
    val el = createElement(tag, ns)
    if (ns == Ns.Svg)
      HtmlMeta.SvgTagAdjust.get(el.tagName).foreach(el.tagName = _)
    insertNodeAt(insertionLocation(null), el)
    if (tag.selfClosing) {
      if (captureSpans) el.endOffset = tag.end
      tag.ackSelfClosing = true
    } else push(el)
  }

  // ------------------------------------------------------------------
  // end tags
  private def processEndTag(tag: TagToken): Unit = {
    if (mode == Undefined) return // reference drops HTML-rule tokens (see InsertionMode.Undefined)
    if (mode == InTableText) {
      flushTableText()
      mode = originalMode
    }
    mode match {
      case Initial =>
        err("missing-doctype", tag.start, tag.start) // beforeToken span
        document.quirksMode = "quirks"
        mode = BeforeHtml
        processEndTag(tag)
      case BeforeHtml =>
        tag.name match {
          case "head" | "body" | "html" | "br" =>
            insertHtmlRoot()
            mode = BeforeHead
            processEndTag(tag)
          case _ => () // parse5 endTagBeforeHtml: silently ignored
        }
      case BeforeHead =>
        tag.name match {
          case "head" | "body" | "html" | "br" =>
            headElement = insertFakeElement("head")
            mode = InHead
            processEndTag(tag)
          case _ => err("end-tag-without-matching-open-element", tag.start, tag.end)
        }
      case InHead =>
        tag.name match {
          case "head" =>
            pop()
            mode = AfterHead
          case "body" | "html" | "br" =>
            pop()
            mode = AfterHead
            processEndTag(tag)
          case "template" => endTagTemplate(tag)
          case _          => err("end-tag-without-matching-open-element", tag.start, tag.end)
        }
      case InHeadNoscript =>
        tag.name match {
          case "noscript" =>
            pop()
            mode = InHead
          case "br" =>
            err("disallowed-content-in-noscript-in-head", tag.start, tag.end)
            pop()
            mode = InHead
            processEndTag(tag)
          case _ => err("end-tag-without-matching-open-element", tag.start, tag.end)
        }
      case AfterHead =>
        tag.name match {
          case "body" | "html" | "br" =>
            insertFakeElement("body")
            mode = InBody
            processEndTag(tag)
          case "template" => endTagTemplate(tag)
          case _          => err("end-tag-without-matching-open-element", tag.start, tag.end)
        }
      case InBody => endTagInBody(tag)
      case Text =>
        pop()
        mode = originalMode
      case InTable => endTagInTable(tag)
      case InCaption =>
        tag.name match {
          case "caption" =>
            if (inScope(TableScope, "caption")) closeCaption()
            else ()
          case "table" =>
            if (inScope(TableScope, "caption")) {
              closeCaption()
              processEndTag(tag)
            } else ()
          case "body" | "col" | "colgroup" | "html" | "tbody" | "td" | "tfoot" |
              "th" | "thead" | "tr" =>
            ()
          case _ => endTagInBody(tag)
        }
      case InColumnGroup =>
        tag.name match {
          case "colgroup" =>
            if (current.namespace == Ns.Html && current.tagName == "colgroup") {
              pop()
              mode = InTable
            } else ()
          case "col" =>
            ()
          case "template" => endTagTemplate(tag)
          case _ =>
            if (current.namespace == Ns.Html && current.tagName == "colgroup") {
              pop()
              mode = InTable
              processEndTag(tag)
            } else ()
        }
      case InTableBody =>
        tag.name match {
          case "tbody" | "tfoot" | "thead" =>
            if (inScope(TableScope, tag.name)) {
              popBackTo(TableBodyContext)
              pop()
              mode = InTable
            } else ()
          case "table" =>
            if (inScope(TableScope, null, TableSections)) {
              popBackTo(TableBodyContext)
              pop()
              mode = InTable
              processEndTag(tag)
            } else ()
          case "body" | "caption" | "col" | "colgroup" | "html" | "td" | "th" |
              "tr" =>
            ()
          case _ => endTagInTable(tag)
        }
      case InRow =>
        tag.name match {
          case "tr" =>
            if (inScope(TableScope, "tr")) {
              popBackTo(TableRowContext)
              pop()
              mode = InTableBody
            } else ()
          case "table" =>
            if (inScope(TableScope, "tr")) {
              popBackTo(TableRowContext)
              pop()
              mode = InTableBody
              processEndTag(tag)
            } else ()
          case "tbody" | "tfoot" | "thead" =>
            // parse5 deviates from the spec here (parser/index.js:2850): the
            // row closes when EITHER the named section OR a tr is in table
            // scope, so a </tbody> whose tbody is out of scope (e.g. a tr
            // sitting directly in template content) still closes the row and
            // reprocesses in IN_TABLE_BODY. The spec would ignore it; we
            // mirror parse5 (found by the trace-transition differential,
            // seed 0x2B2B2B2B).
            if (inScope(TableScope, tag.name) || inScope(TableScope, "tr")) {
              popBackTo(TableRowContext)
              pop()
              mode = InTableBody
              processEndTag(tag)
            } else ()
          case "body" | "caption" | "col" | "colgroup" | "html" | "td" | "th" =>
            ()
          case _ => endTagInTable(tag)
        }
      case InCell =>
        tag.name match {
          case "td" | "th" =>
            if (inScope(TableScope, tag.name)) {
              generateImpliedEndTags(null)
              if (!(current.namespace == Ns.Html && current.tagName == tag.name))
                ()
              popThrough(tag.name)
              afeClearToLastMarker()
              mode = InRow
            } else ()
          case "body" | "caption" | "col" | "colgroup" | "html" =>
            ()
          case "table" | "tbody" | "tfoot" | "thead" | "tr" =>
            if (inScope(TableScope, tag.name)) {
              closeCell()
              processEndTag(tag)
            } else ()
          case _ => endTagInBody(tag)
        }
      case InSelect => endTagInSelect(tag)
      case InSelectInTable =>
        tag.name match {
          case "caption" | "table" | "tbody" | "tfoot" | "thead" | "tr" | "td" |
              "th" =>
            ()
            if (inScope(TableScope, tag.name)) {
              popThrough("select")
              resetInsertionMode()
              processEndTag(tag)
            }
          case _ => endTagInSelect(tag)
        }
      case InTemplate =>
        if (tag.name == "template") endTagTemplate(tag)
        else ()
      case AfterBody =>
        if (tag.name == "html") {
          if (fragmentContext != null)
            ()
          else mode = AfterAfterBody
          // parse5 endTagAfterBody: <html> is never popped — update its end
          // location, and <body>'s unless body saw its own matching end tag
          // (parser/index.js:3146-3155)
          if (captureSpans && stack.nonEmpty &&
            stack(0).namespace == Ns.Html && stack(0).tagName == "html") {
            setEndLocation(stack(0))
            if (stack.length >= 2) {
              val body = stack(1)
              if (!body.endTagMatched) setEndLocation(body)
            }
          }
        } else {
          ()
          mode = InBody
          processEndTag(tag)
        }
      case InFrameset =>
        tag.name match {
          case "frameset" =>
            if (stack.length == 1) ()
            else {
              pop()
              if (fragmentContext == null &&
                !(current.namespace == Ns.Html && current.tagName == "frameset"))
                mode = AfterFrameset
            }
          case _ => ()
        }
      case AfterFrameset =>
        if (tag.name == "html") mode = AfterAfterFrameset
        else ()
      case AfterAfterBody =>
        ()
        mode = InBody
        processEndTag(tag)
      case AfterAfterFrameset =>
        ()
      case _ =>
    }
  }

  private def endTagTemplate(tag: TagToken): Unit = {
    if (!hasTemplateOnStack) {
      err("end-tag-without-matching-open-element", tag.start, tag.end)
      return
    }
    // a matched </template> is NOT a parse error (spec §13.2.6.4.7;
    // reference templateEndTagInHead errs only on unmatched/open-children)
    generateImpliedEndTagsThoroughly()
    if (!(current.namespace == Ns.Html && current.tagName == "template"))
      err("closing-of-element-with-open-child-elements", tag.start, tag.end)
    popThrough("template")
    afeClearToLastMarker()
    if (templateModes.nonEmpty) templateModes.remove(templateModes.length - 1)
    resetInsertionMode()
  }

  private def endTagInTable(tag: TagToken): Unit = {
    tag.name match {
      case "table" =>
        if (inScope(TableScope, "table")) {
          popThrough("table")
          resetInsertionMode()
        } else ()
      case "body" | "caption" | "col" | "colgroup" | "html" | "tbody" | "td" |
          "tfoot" | "th" | "thead" | "tr" =>
        ()
      case "template" => endTagTemplate(tag)
      case _ =>
        ()
        fosterParenting = true
        endTagInBody(tag)
        fosterParenting = false
    }
  }

  private def endTagInSelect(tag: TagToken): Unit = {
    tag.name match {
      case "optgroup" =>
        if (current.namespace == Ns.Html && current.tagName == "option" &&
          stack.length > 1 && stack(stack.length - 2).namespace == Ns.Html &&
          stack(stack.length - 2).tagName == "optgroup") pop()
        if (current.namespace == Ns.Html && current.tagName == "optgroup") pop()
        else ()
      case "option" =>
        if (current.namespace == Ns.Html && current.tagName == "option") pop()
        else ()
      case "select" =>
        if (hasInSelectScope("select")) {
          popThrough("select")
          resetInsertionMode()
        } else ()
      case "template" => endTagTemplate(tag)
      case _          => ()
    }
  }

  private def endTagInBody(tag: TagToken): Unit = {
    tag.name match {
      case "template" => endTagTemplate(tag)
      case "body" =>
        if (!inScope(DefaultScope, "body")) ()
        else {
          mode = AfterBody
          // parse5 bodyEndTagInBody: <body> is never popped, so its end
          // location is updated explicitly (parser/index.js:2207-2218)
          if (captureSpans && stack.length >= 2) {
            val body = stack(1)
            if (body.namespace == Ns.Html && body.tagName == "body") setEndLocation(body)
          }
        }
      case "html" =>
        if (!inScope(DefaultScope, "body")) ()
        else {
          mode = AfterBody
          processEndTag(tag)
        }
      case "address" | "article" | "aside" | "blockquote" | "button" |
          "center" | "details" | "dialog" | "dir" | "div" | "dl" | "fieldset" |
          "figcaption" | "figure" | "footer" | "header" | "hgroup" | "listing" |
          "main" | "menu" | "nav" | "ol" | "pre" | "section" | "summary" | "ul" =>
        if (!inScope(DefaultScope, tag.name)) ()
        else {
          generateImpliedEndTags(null)
          if (!(current.namespace == Ns.Html && current.tagName == tag.name))
            ()
          popThrough(tag.name)
        }
      case "form" =>
        if (!hasTemplateOnStack) {
          val node = formElement
          formElement = null
          if (node == null || !inScope(DefaultScope, null, target = node)) {
            ()
            return
          }
          generateImpliedEndTags(null)
          if (!(current eq node)) ()
          removeFromStack(node)
        } else {
          if (!inScope(DefaultScope, "form")) {
            ()
            return
          }
          generateImpliedEndTags(null)
          if (!(current.namespace == Ns.Html && current.tagName == "form"))
            ()
          popThrough("form")
        }
      case "p" =>
        if (!pInButtonScope) {
          ()
          insertFakeElement("p")
        }
        closePElement()
      case "li" =>
        if (!inScope(ListItemScope, "li")) ()
        else {
          generateImpliedEndTags("li")
          if (!(current.namespace == Ns.Html && current.tagName == "li"))
            ()
          popThrough("li")
        }
      case "dd" | "dt" =>
        if (!inScope(DefaultScope, tag.name)) ()
        else {
          generateImpliedEndTags(tag.name)
          if (!(current.namespace == Ns.Html && current.tagName == tag.name))
            ()
          popThrough(tag.name)
        }
      case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
        if (!inScope(DefaultScope, null, HtmlMeta.Headings))
          ()
        else {
          generateImpliedEndTags(null)
          if (!(current.namespace == Ns.Html && current.tagName == tag.name))
            ()
          popThrough(null, HtmlMeta.Headings)
        }
      case "a" | "b" | "big" | "code" | "em" | "font" | "i" | "nobr" | "s" |
          "small" | "strike" | "strong" | "tt" | "u" =>
        adoptionAgency(tag.name)
      case "applet" | "marquee" | "object" =>
        if (!inScope(DefaultScope, tag.name)) ()
        else {
          generateImpliedEndTags(null)
          if (!(current.namespace == Ns.Html && current.tagName == tag.name))
            ()
          popThrough(tag.name)
          afeClearToLastMarker()
        }
      case "br" =>
        ()
        reconstructActiveFormattingElements()
        insertFakeElement("br")
        pop()
        framesetOk = false
      case _ =>
        anyOtherEndTagInBody(tag.name)
    }
  }

  // ------------------------------------------------------------------
  // foreign content (spec §13.2.6.5)
  private def foreignStartTag(tag: TagToken): Unit = {
    if (HtmlMeta.causesForeignExit(tag)) {
      ()
      while ({
        val acn = current
        !(acn.namespace == Ns.Html ||
          HtmlMeta.isMathMlTextIntegrationPoint(acn) ||
          HtmlMeta.isHtmlIntegrationPoint(acn))
      }) pop()
      processStartTag(tag)
    } else {
      val acn = adjustedCurrentNode
      val ns = acn.namespace
      if (ns == Ns.MathMl) adjustMathMlAttrs(tag)
      else if (ns == Ns.Svg) {
        HtmlMeta.SvgTagAdjust.get(tag.name).foreach(tag.name = _)
        adjustSvgAttrs(tag)
      }
      adjustForeignAttrs(tag)
      val el = new DomElement(tag.name, ns)
      if (ns == Ns.Svg) HtmlMeta.SvgTagAdjust.get(el.tagName).foreach(el.tagName = _)
      var i = 0
      while (i < tag.attrs.length) {
        val a = tag.attrs(i)
        el.addAttr(new DomAttr(a.name, a.value, a.start, a.end))
        i += 1
      }
      if (captureSpans) {
        el.startOffset = tag.start
        el.startTagEnd = tag.end
      }
      insertNodeAt(insertionLocation(null), el)
      if (tag.selfClosing) {
        if (captureSpans) el.endOffset = tag.end
        tag.ackSelfClosing = true
      } else push(el)
    }
  }

  private def foreignEndTag(tag: TagToken): Unit = {
    // </p> and </br> exit foreign content entirely: pop to the nearest
    // HTML/integration-point node, then reprocess per HTML rules
    // (reference endTagInForeignContent, parser/index.js:3289-3294)
    if (tag.name == "p" || tag.name == "br") {
      while ({
        val cn = current
        !(cn.namespace == Ns.Html ||
          HtmlMeta.isMathMlTextIntegrationPoint(cn) ||
          HtmlMeta.isHtmlIntegrationPoint(cn))
      }) pop()
      processEndTag(tag)
      return
    }
    // parse5 endTagInForeignContent walk (parser/index.js:3295-3309): scan
    // from the top down to — but NOT including — the root. An HTML-ns
    // element hands the token to the current insertion mode; a
    // case-insensitive name match pops to that element (patching the token
    // name to the case-adjusted one so _setEndLocation matches); reaching
    // the root without either silently drops the token.
    var i = stack.length - 1
    var done = false
    while (i > 0 && !done) {
      val node = stack(i)
      if (node.namespace == Ns.Html) {
        processEndTag(tag)
        done = true
      } else if (node.tagName.toLowerCase == tag.name) {
        locTokEndTagName = node.tagName
        popThrough(null, target = node)
        done = true
      } else i -= 1
    }
  }

  // ------------------------------------------------------------------
  // entry points
  /** Parse a complete document. */
  def parseDocument(): DomDocument = {
    tokenizer = new Tokenizer(input, this)
    tokenizer.run()
    document
  }

  /** Parse a fragment in the given context tag (HTML namespace). The
    * context element is fabricated; spec §13.4.
    */
  def parseFragment(contextTagName: String): DomElement = {
    fragmentContext = createFakeElement(contextTagName)
    // an "svg"/"math" context element carries its foreign namespace (the
    // reference fabricates the context by parsing `<svg></svg>` etc., which
    // lands in the foreign namespace — build.ts:283-305), so fragment
    // content parses under foreign-content rules via adjustedCurrentNode
    if (contextTagName == "svg") fragmentContext.namespace = Ns.Svg
    else if (contextTagName == "math") fragmentContext.namespace = Ns.MathMl
    // spec 13.4 step 12 / parse5 _findFormInFragmentContext (parser/
    // index.js:283-291): the form element pointer seeds from the nearest
    // form on the context's ancestor chain — for a fabricated context the
    // chain is just the context itself. With the pointer set, <form> start
    // tags outside templates are IGNORED (formStartTagInBody:1778).
    if (contextTagName == "form") formElement = fragmentContext
    tokenizer = new Tokenizer(input, this)
    contextTagName match {
      case "title" | "textarea" =>
        tokenizer.state = TokenizerState.Rcdata
      case "style" | "xmp" | "iframe" | "noembed" | "noframes" =>
        tokenizer.state = TokenizerState.Rawtext
      case "script" =>
        tokenizer.state = TokenizerState.ScriptData
      case "noscript" =>
        if (scriptingEnabled) tokenizer.state = TokenizerState.Rawtext
      case "plaintext" =>
        tokenizer.state = TokenizerState.Plaintext
      case _ =>
    }
    // NOTE: lastStartTagName is NOT seeded with the context tag — the
    // "appropriate end tag" refers to the last start tag emitted by the
    // tokenizer itself, and none has been (spec §13.2.5; the reference's
    // fragment init sets only the state, parser/index.js:293-323), so e.g.
    // a script-context fragment never terminates its script data on
    // `</script>`.
    val root = createFakeElement("html")
    document.appendChild(root)
    push(root)
    if (contextTagName == "template") templateModes += InTemplate
    mode = Initial
    resetInsertionModeForFragment()
    tokenizer.run()
    root
  }

  private def resetInsertionModeForFragment(): Unit = {
    resetInsertionMode()
    if (mode == Initial || mode == BeforeHtml) mode = BeforeHead
  }
}
