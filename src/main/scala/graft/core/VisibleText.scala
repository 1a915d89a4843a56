package graft.core

import scala.collection.mutable.ArrayBuffer

/** Visible-text extraction: tree -> normalized human-visible text, plus the
  * token and provenance variants. This is the per-turn extraction operator
  * of the pipeline (north rule) and a byte-exact port of the reference's
  * semantics (reference: src/public/mod.ts:1130-1667):
  *
  *  - skip tags head/script/style/template/title/optgroup/option and all
  *    `select` subtrees (mod.ts:1002,1312-1314);
  *  - hidden subtrees: `hidden` attr, inline display:none /
  *    visibility:hidden / content-visibility:hidden, truthy aria-hidden
  *    (mod.ts:1076-1098);
  *  - structural breaks: <br> -> \n, <p> -> leading \n + trailing \n\n,
  *    29 block tags -> \n on both sides, <tr> rows with \t-joined cells
  *    (mod.ts:1269,1329-1348,1358-1370);
  *  - control values: img[alt], input[type∈{button,submit,reset}][value],
  *    button[value], opt-in input[aria-label] fallback;
  *  - noscript with a single markup-bearing text child re-parses as a body
  *    fragment (mod.ts:1201-1231);
  *  - two-phase whitespace normalization: per-segment collapse (unless
  *    inside pre/textarea) then global output normalization (mod.ts:1042-1056,
  *    1130-1141).
  */
object VisibleText {

  private[graft] val SkipTags =
    Set("head", "script", "style", "template", "title", "optgroup", "option")
  private val InputValueTypes = Set("button", "submit", "reset")
  private val BlockBreakTags = Set(
    "address", "article", "aside", "blockquote", "div", "dl", "fieldset",
    "figcaption", "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5",
    "h6", "header", "li", "main", "nav", "ol", "section", "table", "tbody",
    "thead", "tfoot", "ul"
  )

  /** The source of a collected segment, for the provenance variant. */
  private[core] final case class SourceMeta(nodeId: Int, nodeKind: String, role: String)

  /** CRLF/CR → LF. Allocation-free when the input has no '\r'. */
  private def normalizeNewlines(value: String): String = {
    if (value.indexOf('\r') < 0) return value
    val sb = new java.lang.StringBuilder(value.length)
    var i = 0
    while (i < value.length) {
      val c = value.charAt(i)
      if (c == '\r') {
        sb.append('\n')
        if (i + 1 < value.length && value.charAt(i + 1) == '\n') i += 1
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  private def isSegmentWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  /** Runs of [ \t\n\f\r] → single space (hand-rolled; this runs per text
    * node and dominated the extraction profile as a per-call-compiled
    * regex). Returns the input instance when already collapsed.
    */
  private def collapseAsciiWhitespace(value: String): String = {
    var i = 0
    var needs = false
    var prevWs = false
    while (i < value.length && !needs) {
      val c = value.charAt(i)
      val ws = isSegmentWs(c)
      if (ws && (c != ' ' || prevWs)) needs = true
      prevWs = ws
      i += 1
    }
    if (!needs) return value
    val sb = new java.lang.StringBuilder(value.length)
    i = 0
    prevWs = false
    while (i < value.length) {
      val c = value.charAt(i)
      if (isSegmentWs(c)) {
        if (!prevWs) sb.append(' ')
        prevWs = true
      } else {
        sb.append(c)
        prevWs = false
      }
      i += 1
    }
    sb.toString
  }

  private def normalizeSegment(value: String, preserveWhitespace: Boolean): String = {
    val normalized = normalizeNewlines(value)
    if (preserveWhitespace) normalized else collapseAsciiWhitespace(normalized)
  }

  /** JS `String.prototype.trim()` — the ECMAScript whitespace class, which
    * the reference applies to attribute values (mod.ts:1062,1108,1123) and
    * fragment contexts (mod.ts:647). See [[isJsWhitespace]].
    */
  private[graft] def jsTrim(s: String): String = {
    var start = 0
    var end = s.length
    while (start < end && isJsWhitespace(s.charAt(start))) start += 1
    while (end > start && isJsWhitespace(s.charAt(end - 1))) end -= 1
    if (start == 0 && end == s.length) s else s.substring(start, end)
  }

  private def normalizeBooleanAttribute(value: Option[String]): Boolean =
    value.exists { v =>
      val normalized = jsTrim(v).toLowerCase
      normalized.isEmpty || normalized == "true" || normalized == "1"
    }

  private[graft] def shouldSkipHiddenSubtree(node: ElementNode, options: VisibleTextOptions): Boolean = {
    if (!options.skipHiddenSubtrees) return false
    if (node.attr("hidden").isDefined) return true
    node.attr("style") match {
      case Some(style) if style.nonEmpty =>
        // lowercase + strip the JS \s class (the reference's /\s+/g at
        // mod.ts:1087 matches NBSP/Zs/FEFF too, not just ASCII whitespace)
        val sb = new java.lang.StringBuilder(style.length)
        var i = 0
        while (i < style.length) {
          val c = style.charAt(i)
          if (!isJsWhitespace(c)) sb.append(Character.toLowerCase(c))
          i += 1
        }
        val normalized = sb.toString
        if (normalized.contains("display:none") ||
          normalized.contains("visibility:hidden") ||
          normalized.contains("content-visibility:hidden")) return true
      case _ =>
    }
    normalizeBooleanAttribute(node.attr("aria-hidden"))
  }

  private def nonEmptyAttr(node: ElementNode, name: String): Option[String] =
    node.attr(name).map(jsTrim).filter(_.nonEmpty)

  private def accessibleNameFallback(node: ElementNode, options: VisibleTextOptions): Option[String] = {
    if (!options.includeAccessibleNameFallback) return None
    if (node.tagName.toLowerCase != "input") return None
    val ty = jsTrim(node.attr("type").getOrElse("text")).toLowerCase
    if (ty == "hidden") return None
    nonEmptyAttr(node, "aria-label")
  }

  /** The ECMAScript WhiteSpace+LineTerminator set — what JS `String.trim()`
    * and regex `\s` match (reference mod.ts:1138 `output.trim()` and :1484
    * `/\s/.test(...)`). Differs from `Character.isWhitespace` both ways:
    * JS includes the no-break spaces U+00A0/U+202F and U+FEFF, Java includes
    * the separator controls U+001C-U+001F. Found by the extraction
    * differential oracle (`&nbsp;` at output edges must trim away).
    */
  private[graft] def isJsWhitespace(c: Char): Boolean = c match {
    case '\t' | '\n' | '\u000B' | '\f' | '\r' | ' ' | '\u00A0' | '\u1680' |
        '\u2028' | '\u2029' | '\u202F' | '\u205F' | '\u3000' | '\uFEFF' => true
    case _ => c >= '\u2000' && c <= '\u200A'
  }


  /** Visible text after global output normalization: chars [start, end) of
    * `chars`, and for the provenance variant the source of each char at the
    * same index of `sources` (null otherwise).
    */
  private[core] final class Normalized(
      val chars: Array[Char], val sources: Array[SourceMeta],
      val start: Int, val end: Int) {
    def text: String = new String(chars, start, end - start)
  }

  private def isSpaceTabFf(c: Char): Boolean = c == ' ' || c == '\t' || c == '\f'

  /** Global output normalization (reference: mod.ts:1130-1141), in place on
    * all of `chars` and, when not null, on the parallel `sources`.
    *
    * Semantics are the reference's five sequential regex passes
    * ([ \t\f]+\n → \n; \n[ \t\f]+ → \n; \n{3,} → \n\n; " "{2,} → " ";
    * \t{2,} → \t), then with `trim` the JS `String.trim()`, hand-rolled into
    * two scans. The write index never passes the read index, so the buffer
    * the collector laid out is reused rather than copied.
    *
    * Precondition: `chars` holds no '\r'. The reference maps CRLF/CR to LF
    * first; here every collected segment has passed [[normalizeSegment]] or
    * is a literal "\n", "\n\n" or "\t", so there is none to map.
    */
  private[core] def normalize(chars: Array[Char], sources: Array[SourceMeta], trim: Boolean): Normalized = {
    // pass 1: strip space/tab/ff before newlines (backtracking write pointer)
    val n = chars.length
    var w = 0
    var i = 0
    while (i < n) {
      val c = chars(i)
      if (c == '\n') {
        while (w > 0 && isSpaceTabFf(chars(w - 1))) w -= 1
      }
      chars(w) = c
      if (sources != null) sources(w) = sources(i)
      w += 1
      i += 1
    }
    // pass 2 (fused): strip space/tab/ff after newlines, then collapse \n
    // runs to 2, space runs to 1, tab runs to 1. Counters observe the
    // post-strip stream exactly as the sequential passes do (a char dropped
    // by a collapse still resets the other classes' runs, which is
    // equivalent because at least one char of every collapsed run survives
    // adjacent to it).
    var w2 = 0
    var stage2Prev: Char = 0
    var nlRun = 0; var spRun = 0; var tabRun = 0
    var r = 0
    while (r < w) {
      val c = chars(r)
      if (stage2Prev == '\n' && isSpaceTabFf(c)) {
        // dropped by strip-after-newline; stage2Prev stays '\n'
      } else {
        stage2Prev = c
        var keep = true
        if (c == '\n') {
          nlRun += 1; spRun = 0; tabRun = 0; keep = nlRun <= 2
        } else if (c == ' ') {
          spRun += 1; nlRun = 0; tabRun = 0; keep = spRun <= 1
        } else if (c == '\t') {
          tabRun += 1; nlRun = 0; spRun = 0; keep = tabRun <= 1
        } else {
          nlRun = 0; spRun = 0; tabRun = 0
        }
        if (keep) {
          chars(w2) = c
          if (sources != null) sources(w2) = sources(r)
          w2 += 1
        }
      }
      r += 1
    }
    var start = 0
    var end = w2
    if (trim) {
      // JS String.trim() semantics, not Java's (see isJsWhitespace)
      while (start < end && isJsWhitespace(chars(start))) start += 1
      while (end > start && isJsWhitespace(chars(end - 1))) end -= 1
    }
    new Normalized(chars, sources, start, end)
  }

  /** Collects the visible segments of the walked nodes in document order,
    * and with `withSources` the [[SourceMeta]] of each. Every appended value
    * has passed [[normalizeSegment]] or is a literal "\n", "\n\n" or "\t".
    */
  private final class Collector(options: VisibleTextOptions, withSources: Boolean) {
    private val segments = new ArrayBuffer[String]
    private val segmentSources: ArrayBuffer[SourceMeta] =
      if (withSources) new ArrayBuffer else null
    private var length = 0

    private def append(value: String, meta: SourceMeta): Unit = {
      if (value.isEmpty) return
      segments += value
      if (segmentSources != null) segmentSources += meta
      length += value.length
    }

    /** Lays the segments out into one exact-size char buffer, plus the
      * per-char sources when collected, and normalizes it in place.
      */
    def normalized(trim: Boolean): Normalized = {
      val chars = new Array[Char](length)
      val sources = if (segmentSources != null) new Array[SourceMeta](length) else null
      var w = 0
      var s = 0
      while (s < segments.length) {
        val v = segments(s)
        v.getChars(0, v.length, chars, w)
        if (sources != null) {
          val m = segmentSources(s)
          var i = 0
          while (i < v.length) { sources(w + i) = m; i += 1 }
        }
        w += v.length
        s += 1
      }
      normalize(chars, sources, trim)
    }

    private def metaOf(node: HtmlNode, roleOverride: String, role: String): SourceMeta =
      if (segmentSources == null) null
      else SourceMeta(node.id, node.kind, if (roleOverride != null) roleOverride else role)

    /** An attribute value shown as text, whitespace collapsed as in a text node. */
    private def appendValue(value: String, el: ElementNode, roleOverride: String, role: String): Unit =
      append(normalizeSegment(value, preserveWhitespace = false), metaOf(el, roleOverride, role))

    private def appendBreak(break: String, el: ElementNode, roleOverride: String): Unit =
      append(break, metaOf(el, roleOverride, "structure-break"))

    /** The fragment that stands in for `el` when it is a `noscript` whose
      * one child is a text node with markup (mod.ts:1201-1231), else null.
      */
    private def noscriptFallback(el: ElementNode, tagName: String): FragmentTree = {
      if (tagName != "noscript" || el.children.length != 1) return null
      el.children(0) match {
        case t: TextNode if t.value.contains("<") && t.value.contains(">") =>
          HtmlParser.parseFragment(t.value, "body")
        case _ => null
      }
    }

    // Frame flags. The first two hold for the frame's nodes (their
    // whitespace rule and source role), the rest for the frame's owner.
    private final val PreserveWs = 1
    private final val Noscript = 2
    private final val AfterP = 4
    private final val AfterBlock = 8
    private final val Row = 16
    private final val SeenCell = 32

    // The explicit frame stack: frame d walks `owners(d)`'s children, or
    // the sibling list in `owners(d)` for the top frame and a noscript
    // fallback's fragment; `state(2d)` is the index of its next node and
    // `state(2d + 1)` its flags.
    private var owners = new Array[AnyRef](8)
    private var state = new Array[Int](16)
    private var top = -1

    private def push(owner: AnyRef, flags: Int): Unit = {
      top += 1
      if (top == owners.length) {
        owners = java.util.Arrays.copyOf(owners, 2 * top)
        state = java.util.Arrays.copyOf(state, 4 * top)
      }
      owners(top) = owner
      state(2 * top) = 0
      state(2 * top + 1) = flags
    }

    /** Collects `nodes` and everything under them in document order. One
      * walk with an explicit frame stack, so its stack use does not grow
      * with the tree's depth: an element's leading break is appended when
      * the walk reaches it, and its trailing break when its frame is done.
      */
    def collect(roots: Vector[HtmlNode]): Unit = {
      push(roots, 0)
      while (top >= 0) {
        val owner = owners(top)
        val flags = state(2 * top + 1)
        val roleOverride = if ((flags & Noscript) != 0) "noscript-fallback" else null
        val nodes = owner match {
          case el: ElementNode => el.children
          case list            => list.asInstanceOf[Vector[HtmlNode]]
        }
        val next = state(2 * top)
        if (next < nodes.length) {
          state(2 * top) = next + 1
          visit(nodes(next), flags, roleOverride)
        } else {
          if ((flags & (Row | AfterBlock)) != 0)
            appendBreak("\n", owner.asInstanceOf[ElementNode], roleOverride)
          else if ((flags & AfterP) != 0)
            appendBreak("\n\n", owner.asInstanceOf[ElementNode], roleOverride)
          owners(top) = null
          top -= 1
        }
      }
    }

    /** Appends what `node` shows by itself and pushes a frame for what it
      * shows through its children; `flags` are those of the frame it is in.
      */
    private def visit(node: HtmlNode, flags: Int, roleOverride: String): Unit = node match {
      case t: TextNode =>
        append(normalizeSegment(t.value, (flags & PreserveWs) != 0), metaOf(t, roleOverride, "text-node"))
      case el: ElementNode =>
        val inherited = flags & (PreserveWs | Noscript)
        if ((flags & Row) != 0) {
          // a tab before every cell of a row but its first, hidden ones too
          val childTag = el.tagName.toLowerCase
          if (childTag == "td" || childTag == "th") {
            if ((flags & SeenCell) != 0) appendBreak("\t", owners(top).asInstanceOf[ElementNode], roleOverride)
            else state(2 * top + 1) = flags | SeenCell
          }
        }
        if (shouldSkipHiddenSubtree(el, options)) return
        val tagName = el.tagName.toLowerCase
        if (SkipTags.contains(tagName)) return
        val fallback = noscriptFallback(el, tagName)
        if (fallback != null) {
          push(fallback.children, inherited | Noscript)
          return
        }

        if (tagName == "br") {
          appendBreak("\n", el, roleOverride)
          return
        }

        if (tagName == "img" && options.includeControlValues) {
          el.attr("alt").filter(_.nonEmpty).foreach(appendValue(_, el, roleOverride, "img-alt"))
          return
        }

        if (tagName == "input" && options.includeControlValues) {
          val ty = el.attr("type").getOrElse("text").toLowerCase
          if (ty != "hidden") {
            val value = el.attr("value")
            if (InputValueTypes.contains(ty) && value.exists(_.nonEmpty)) {
              appendValue(value.get, el, roleOverride, "input-value")
              return
            }
            accessibleNameFallback(el, options).foreach(appendValue(_, el, roleOverride, "input-aria-label"))
          }
          return
        }

        if (tagName == "select") return

        if (tagName == "button" && options.includeControlValues) {
          val value = el.attr("value")
          if (value.exists(_.nonEmpty)) {
            appendValue(value.get, el, roleOverride, "button-value")
            return
          }
        }

        if (tagName == "tr") {
          appendBreak("\n", el, roleOverride)
          push(el, inherited | Row)
        } else if (tagName == "td" || tagName == "th") {
          push(el, inherited)
        } else {
          val preserve = if (tagName == "pre" || tagName == "textarea") PreserveWs else 0
          val after =
            if (tagName == "p") AfterP
            else if (BlockBreakTags.contains(tagName)) AfterBlock
            else 0
          if (after != 0) appendBreak("\n", el, roleOverride)
          push(el, inherited | preserve | after)
        }
      case _ => // comments / doctypes contribute nothing
    }
  }

  private def normalizedOf(
      nodes: Vector[HtmlNode],
      options: VisibleTextOptions,
      withSources: Boolean
  ): Normalized = {
    val c = new Collector(options, withSources)
    c.collect(nodes)
    c.normalized(options.trim)
  }

  /** Tokenize normalized visible text into text/lineBreak/paragraphBreak/tab
    * tokens (reference: mod.ts:1565-1610, and with sources mod.ts:1638-1667).
    * A text run ends at '\n' and '\t', and also where its source changes
    * (value equality: equal metas of different segments merge); with no
    * sources it never does. `token(kind, value, source)` builds each token
    * from the source of its first char, null with no sources.
    */
  private def tokenize[T](text: Normalized, token: (String, String, SourceMeta) => T): Vector[T] = {
    val tokens = Vector.newBuilder[T]
    val cs = text.chars
    val ms = text.sources
    val end = text.end
    var cursor = text.start
    while (cursor < end) {
      val c = cs(cursor)
      val source = if (ms == null) null else ms(cursor)
      if (c == '\n' && cursor + 1 < end && cs(cursor + 1) == '\n') {
        tokens += token("paragraphBreak", "\n\n", source)
        cursor += 2
      } else if (c == '\n') {
        tokens += token("lineBreak", "\n", source)
        cursor += 1
      } else if (c == '\t') {
        tokens += token("tab", "\t", source)
        cursor += 1
      } else {
        val from = cursor
        while (cursor < end && cs(cursor) != '\n' && cs(cursor) != '\t' &&
               (ms == null || ms(cursor) == source)) cursor += 1
        tokens += token("text", new String(cs, from, cursor - from), source)
      }
    }
    tokens.result()
  }

  private val plainToken: (String, String, SourceMeta) => VisibleTextToken =
    (kind, value, _) => VisibleTextToken(kind, value)

  private val provenanceToken: (String, String, SourceMeta) => VisibleTextTokenWithProvenance =
    (kind, value, m) => VisibleTextTokenWithProvenance(
      kind, value,
      if (m.nodeId >= 0) Some(m.nodeId) else None,
      m.nodeKind, m.role
    )

  // ------------------------------------------------------------------
  def ofDocument(tree: DocumentTree, options: VisibleTextOptions = VisibleTextOptions()): String =
    normalizedOf(tree.children, options, withSources = false).text

  def ofFragment(tree: FragmentTree, options: VisibleTextOptions = VisibleTextOptions()): String =
    normalizedOf(tree.children, options, withSources = false).text

  def ofNode(node: HtmlNode, options: VisibleTextOptions = VisibleTextOptions()): String =
    normalizedOf(Vector(node), options, withSources = false).text

  def tokensOfDocument(
      tree: DocumentTree,
      options: VisibleTextOptions = VisibleTextOptions()
  ): Vector[VisibleTextToken] =
    tokenize(normalizedOf(tree.children, options, withSources = false), plainToken)

  def tokensOfFragment(
      tree: FragmentTree,
      options: VisibleTextOptions = VisibleTextOptions()
  ): Vector[VisibleTextToken] =
    tokenize(normalizedOf(tree.children, options, withSources = false), plainToken)

  // provenance variant (reference: mod.ts:1638-1667). The reference runs a
  // second, char-level normalization beside the string one and degrades to
  // tokens without sources when the two disagree; here the one normalizer
  // produces both, and VisibleTextNormalizerSpec and FuzzSpec check what
  // that run-time comparison checked.
  def tokensWithProvenance(
      children: Vector[HtmlNode],
      options: VisibleTextOptions = VisibleTextOptions()
  ): Vector[VisibleTextTokenWithProvenance] =
    tokenize(normalizedOf(children, options, withSources = true), provenanceToken)

  /** One-pass combination of [[ofDocument]] + [[tokensWithProvenance]]:
    * returns (normalized visible text, provenance tokens) from a single
    * collector run — the pipeline's extraction hot path.
    */
  def extractWithProvenance(
      children: Vector[HtmlNode],
      options: VisibleTextOptions = VisibleTextOptions()
  ): (String, Vector[VisibleTextTokenWithProvenance]) = {
    val text = normalizedOf(children, options, withSources = true)
    (text.text, tokenize(text, provenanceToken))
  }
}
