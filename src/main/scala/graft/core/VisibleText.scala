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

  // ---- source chunk bookkeeping for the provenance variant ----
  private final case class SourceMeta(nodeId: Int, nodeKind: String, role: String)
  private final case class SourceChunk(value: String, meta: SourceMeta)

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


  /** Global output normalization (reference: mod.ts:1130-1141).
    *
    * Semantics are the reference's five sequential regex passes
    * ([ \t\f]+\n → \n; \n[ \t\f]+ → \n; \n{3,} → \n\n; " "{2,} → " ";
    * \t{2,} → \t), hand-rolled into two scans: a run of [ \t\f\n] that
    * contains a newline reduces to min(#newlines, 2) newlines (passes 1-3),
    * then same-char space/tab runs collapse (passes 4-5). The golden fixture
    * corpus pins the equivalence.
    */
  def normalizeOutput(value: String, trim: Boolean): String = {
    val input = normalizeNewlines(value)
    val sb = new java.lang.StringBuilder(input.length)
    var i = 0
    val n = input.length
    while (i < n) {
      val c = input.charAt(i)
      if (c == ' ' || c == '\t' || c == '\f' || c == '\n') {
        // find the end of the [ \t\f\n] run and count newlines
        var j = i
        var newlines = 0
        while (j < n && {
          val cj = input.charAt(j)
          cj == ' ' || cj == '\t' || cj == '\f' || cj == '\n'
        }) {
          if (input.charAt(j) == '\n') newlines += 1
          j += 1
        }
        if (newlines > 0) {
          sb.append('\n')
          if (newlines > 1) sb.append('\n')
        } else {
          // no newline: collapse same-char space/tab runs, keep \f as-is
          var k = i
          var prev: Char = 0
          while (k < j) {
            val ck = input.charAt(k)
            if (!((ck == ' ' || ck == '\t') && ck == prev)) sb.append(ck)
            prev = ck
            k += 1
          }
        }
        i = j
      } else {
        sb.append(c)
        i += 1
      }
    }
    val output = sb.toString
    if (!trim) return output
    // JS String.trim() semantics, not Java's (see isJsWhitespace)
    var start = 0
    var end = output.length
    while (start < end && isJsWhitespace(output.charAt(start))) start += 1
    while (end > start && isJsWhitespace(output.charAt(end - 1))) end -= 1
    if (start == 0 && end == output.length) output else output.substring(start, end)
  }

  private final class Collector(options: VisibleTextOptions, withChunks: Boolean) {
    val parts = new java.lang.StringBuilder
    val chunks: ArrayBuffer[SourceChunk] = if (withChunks) new ArrayBuffer else null

    def append(value: String, meta: SourceMeta): Unit = {
      if (value.isEmpty) return
      parts.append(value)
      if (chunks != null) chunks += SourceChunk(value, meta)
    }

    private def metaOf(node: HtmlNode, role: String): SourceMeta =
      if (chunks == null) null else SourceMeta(node.id, node.kind, role)

    private def roleOr(over: String, dflt: String): String =
      if (over != null) over else dflt

    def collectNoscript(node: ElementNode, preserveWs: Boolean, roleOverride: String): Boolean = {
      if (node.tagName.toLowerCase != "noscript") return false
      if (node.children.length != 1) return false
      node.children(0) match {
        case t: TextNode =>
          val raw = t.value
          if (!raw.contains("<") || !raw.contains(">")) return false
          val fragment = HtmlParser.parseFragment(raw, "body")
          fragment.children.foreach(c => collect(c, preserveWs, "noscript-fallback"))
          true
        case _ => false
      }
    }

    def collect(node: HtmlNode, preserveWs: Boolean, roleOverride: String): Unit = node match {
      case t: TextNode =>
        append(
          normalizeSegment(t.value, preserveWs),
          metaOf(t, roleOr(roleOverride, "text-node"))
        )
      case el: ElementNode =>
        if (shouldSkipHiddenSubtree(el, options)) return
        val tagName = el.tagName.toLowerCase
        val fallbackName = accessibleNameFallback(el, options)
        if (SkipTags.contains(tagName)) return
        if (collectNoscript(el, preserveWs, roleOverride)) return

        if (tagName == "br") {
          append("\n", metaOf(el, roleOr(roleOverride, "structure-break")))
          return
        }

        if (tagName == "img" && options.includeControlValues) {
          el.attr("alt").filter(_.nonEmpty).foreach { alt =>
            append(
              normalizeSegment(alt, preserveWhitespace = false),
              metaOf(el, roleOr(roleOverride, "img-alt"))
            )
          }
          return
        }

        if (tagName == "input" && options.includeControlValues) {
          val ty = el.attr("type").getOrElse("text").toLowerCase
          if (ty != "hidden") {
            val value = el.attr("value")
            if (InputValueTypes.contains(ty) && value.exists(_.nonEmpty)) {
              append(
                normalizeSegment(value.get, preserveWhitespace = false),
                metaOf(el, roleOr(roleOverride, "input-value"))
              )
              return
            }
            fallbackName.foreach { fn =>
              append(
                normalizeSegment(fn, preserveWhitespace = false),
                metaOf(el, roleOr(roleOverride, "input-aria-label"))
              )
            }
          }
          return
        }

        if (tagName == "select") return

        if (tagName == "button" && options.includeControlValues) {
          val value = el.attr("value")
          if (value.exists(_.nonEmpty)) {
            append(
              normalizeSegment(value.get, preserveWhitespace = false),
              metaOf(el, roleOr(roleOverride, "button-value"))
            )
            return
          }
        }

        if (tagName == "tr") {
          append("\n", metaOf(el, roleOr(roleOverride, "structure-break")))
          var seenTableCell = false
          el.children.foreach {
            case child: ElementNode
                if child.tagName.toLowerCase == "td" || child.tagName.toLowerCase == "th" =>
              if (seenTableCell)
                append("\t", metaOf(el, roleOr(roleOverride, "structure-break")))
              collect(child, preserveWs, roleOverride)
              seenTableCell = true
            case child =>
              collect(child, preserveWs, roleOverride)
          }
          append("\n", metaOf(el, roleOr(roleOverride, "structure-break")))
          return
        }

        if (tagName == "td" || tagName == "th") {
          el.children.foreach(c => collect(c, preserveWs, roleOverride))
          return
        }

        val childPreserveWs = preserveWs || tagName == "pre" || tagName == "textarea"
        val blockBreakBefore = tagName == "p" || BlockBreakTags.contains(tagName)
        if (blockBreakBefore)
          append("\n", metaOf(el, roleOr(roleOverride, "structure-break")))
        el.children.foreach(c => collect(c, childPreserveWs, roleOverride))
        if (tagName == "p") {
          append("\n\n", metaOf(el, roleOr(roleOverride, "structure-break")))
          return
        }
        if (blockBreakBefore)
          append("\n", metaOf(el, roleOr(roleOverride, "structure-break")))
      case _ => // comments / doctypes contribute nothing
    }
  }

  private def collectFrom(
      children: Vector[HtmlNode],
      options: VisibleTextOptions,
      withChunks: Boolean
  ): Collector = {
    val c = new Collector(options, withChunks)
    children.foreach(n => c.collect(n, preserveWs = false, roleOverride = null))
    c
  }

  // ------------------------------------------------------------------
  def ofDocument(tree: DocumentTree, options: VisibleTextOptions = VisibleTextOptions()): String =
    normalizeOutput(collectFrom(tree.children, options, withChunks = false).parts.toString, options.trim)

  def ofFragment(tree: FragmentTree, options: VisibleTextOptions = VisibleTextOptions()): String =
    normalizeOutput(collectFrom(tree.children, options, withChunks = false).parts.toString, options.trim)

  def ofNode(node: HtmlNode, options: VisibleTextOptions = VisibleTextOptions()): String = {
    val c = new Collector(options, withChunks = false)
    c.collect(node, preserveWs = false, roleOverride = null)
    normalizeOutput(c.parts.toString, options.trim)
  }

  /** Tokenize normalized visible text into text/lineBreak/paragraphBreak/tab
    * tokens (reference: mod.ts:1565-1610).
    */
  def tokenize(value: String): Vector[VisibleTextToken] = {
    val tokens = Vector.newBuilder[VisibleTextToken]
    val active = new java.lang.StringBuilder
    def flush(): Unit =
      if (active.length > 0) {
        tokens += VisibleTextToken("text", active.toString)
        active.setLength(0)
      }
    var cursor = 0
    while (cursor < value.length) {
      val char = value.charAt(cursor)
      if (char == '\n' && cursor + 1 < value.length && value.charAt(cursor + 1) == '\n') {
        flush()
        tokens += VisibleTextToken("paragraphBreak", "\n\n")
        cursor += 2
      } else if (char == '\n') {
        flush()
        tokens += VisibleTextToken("lineBreak", "\n")
        cursor += 1
      } else if (char == '\t') {
        flush()
        tokens += VisibleTextToken("tab", "\t")
        cursor += 1
      } else {
        active.append(char)
        cursor += 1
      }
    }
    flush()
    tokens.result()
  }

  def tokensOfDocument(
      tree: DocumentTree,
      options: VisibleTextOptions = VisibleTextOptions()
  ): Vector[VisibleTextToken] = tokenize(ofDocument(tree, options))

  def tokensOfFragment(
      tree: FragmentTree,
      options: VisibleTextOptions = VisibleTextOptions()
  ): Vector[VisibleTextToken] = tokenize(ofFragment(tree, options))

  // ------------------------------------------------------------------
  // provenance variant (reference: mod.ts:1638-1667): a parallel char-level
  // normalization pipeline with a consistency check + degraded fallback.
  /** Struct-of-arrays char stream: one char + one (shared) meta ref per
    * position instead of a per-char SourceChar object — the normalize +
    * tokenize pipeline touches every character of every document, so the
    * object-per-char representation dominated extraction allocation.
    * Valid window is [start, end).
    */
  private final class CharStream(
      val chars: Array[Char], val metas: Array[SourceMeta],
      val start: Int, val end: Int) {
    def length: Int = end - start
  }

  private def chunksToChars(chunks: ArrayBuffer[SourceChunk]): CharStream = {
    var total = 0
    var ci = 0
    while (ci < chunks.length) { total += chunks(ci).value.length; ci += 1 }
    val cs = new Array[Char](total)
    val ms = new Array[SourceMeta](total)
    var w = 0
    ci = 0
    while (ci < chunks.length) {
      val chunk = chunks(ci)
      val v = chunk.value
      val m = chunk.meta
      v.getChars(0, v.length, cs, w)
      var i = 0
      while (i < v.length) { ms(w + i) = m; i += 1 }
      w += v.length
      ci += 1
    }
    new CharStream(cs, ms, 0, total)
  }

  private def isSpaceTabFf(c: Char): Boolean = c == ' ' || c == '\t' || c == '\f'

  private def normalizeSourceChars(in: CharStream, trim: Boolean): CharStream = {
    // pass 1: strip space/tab/ff before newlines (backtracking write
    // pointer). Operates IN PLACE on the stream handed in — the only call
    // site feeds the fresh per-document arrays from chunksToChars, and the
    // write pointer never passes the read pointer, so a second char[]+ref[]
    // pair per document (this pipeline touches every char of every turn)
    // would be pure allocation churn.
    val n = in.end
    val c1 = in.chars
    val m1 = in.metas
    var w = 0
    var i = in.start
    while (i < n) {
      val c = c1(i)
      if (c == '\n') {
        while (w > 0 && isSpaceTabFf(c1(w - 1))) w -= 1
      }
      c1(w) = c; m1(w) = m1(i); w += 1
      i += 1
    }
    // pass 2 (fused, in place — the write index never passes the read
    // index): strip space/tab/ff after newlines, then collapse \n runs to 2,
    // space runs to 1, tab runs to 1. Counters observe the post-strip stream
    // exactly as the previously-sequential passes did (a char dropped by a
    // collapse still resets the other classes' runs, which is equivalent
    // because at least one char of every collapsed run survives adjacent to
    // it) — byte-identical output.
    var w2 = 0
    var stage2Prev: Char = 0
    var nlRun = 0; var spRun = 0; var tabRun = 0
    var r = 0
    while (r < w) {
      val c = c1(r)
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
        if (keep) { c1(w2) = c; m1(w2) = m1(r); w2 += 1 }
      }
      r += 1
    }
    var start = 0
    var end = w2
    if (trim) {
      // reference mod.ts:1484-1489 trims with /\s/ (JS class, incl. NBSP)
      while (start < end && isJsWhitespace(c1(start))) start += 1
      while (end > start && isJsWhitespace(c1(end - 1))) end -= 1
    }
    new CharStream(c1, m1, start, end)
  }

  private def provTok(kind: String, value: String, m: SourceMeta): VisibleTextTokenWithProvenance =
    VisibleTextTokenWithProvenance(
      kind, value,
      if (m.nodeId >= 0) Some(m.nodeId) else None,
      m.nodeKind, m.role
    )

  private def tokenizeWithChars(st: CharStream): Vector[VisibleTextTokenWithProvenance] = {
    val tokens = Vector.newBuilder[VisibleTextTokenWithProvenance]
    val cs = st.chars
    val ms = st.metas
    val end = st.end
    var cursor = st.start
    while (cursor < end) {
      val c = cs(cursor)
      if (c == '\n' && cursor + 1 < end && cs(cursor + 1) == '\n') {
        tokens += provTok("paragraphBreak", "\n\n", ms(cursor))
        cursor += 2
      } else if (c == '\n') {
        tokens += provTok("lineBreak", "\n", ms(cursor))
        cursor += 1
      } else if (c == '\t') {
        tokens += provTok("tab", "\t", ms(cursor))
        cursor += 1
      } else {
        // text run: same source meta (VALUE equality, matching the previous
        // per-char comparison — equal metas from different chunks merge),
        // broken by \n and \t
        val source = ms(cursor)
        val from = cursor
        while (cursor < end && cs(cursor) != '\n' && cs(cursor) != '\t' &&
               ms(cursor) == source) cursor += 1
        tokens += provTok("text", new String(cs, from, cursor - from), source)
      }
    }
    tokens.result()
  }

  def tokensWithProvenance(
      children: Vector[HtmlNode],
      options: VisibleTextOptions = VisibleTextOptions()
  ): Vector[VisibleTextTokenWithProvenance] =
    extractWithProvenance(children, options)._2

  /** One-pass combination of [[ofDocument]] + [[tokensWithProvenance]]:
    * returns (normalized visible text, provenance tokens) from a single
    * collector run — the pipeline's extraction hot path.
    */
  def extractWithProvenance(
      children: Vector[HtmlNode],
      options: VisibleTextOptions = VisibleTextOptions()
  ): (String, Vector[VisibleTextTokenWithProvenance]) = {
    val collector = collectFrom(children, options, withChunks = true)
    val output = normalizeOutput(collector.parts.toString, options.trim)
    val normalizedChars = normalizeSourceChars(chunksToChars(collector.chunks), options.trim)
    val normalizedOutput =
      new String(normalizedChars.chars, normalizedChars.start, normalizedChars.length)
    val tokens =
      if (normalizedOutput != output) {
        // degraded fallback: tokenize the string output without provenance
        tokenize(output).map { t =>
          val role = if (t.kind == "text") "text-node" else "structure-break"
          VisibleTextTokenWithProvenance(t.kind, t.value, None, "document", role)
        }
      } else tokenizeWithChars(normalizedChars)
    (output, tokens)
  }
}
