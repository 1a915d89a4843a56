package graft.core

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer

/** Public parsing façade: parse / parseFragment / parseBytes plus the
  * document-level conversion from the internal mutable DOM to the public
  * immutable tree with pre-assigned node ids.
  *
  * Mirrors the reference's public layer (reference: src/public/mod.ts:475-765):
  *  - node ids are assigned by a monotone counter with the document itself
  *    taking id 1 and each element receiving its id AFTER its children
  *    (reference convertTreeNode: children first, mod.ts:427-431);
  *  - the select/option compat patch runs post-parse
  *    (reference: src/internal/tree/build.ts:307-381);
  *  - maxNodes/maxDepth budgets THROW at this layer while the tree layer
  *    only records errors (asymmetry per mod.ts:541-546 / build.ts:117-127).
  */
object HtmlParser {

  private final class ErrRec(val code: String, val start: Int, val end: Int, val hasSpan: Boolean)

  private def normalizeParseErrorId(raw: String): String = {
    val trimmed = raw.trim
    if (trimmed.isEmpty) "vendor:unknown"
    else if (trimmed.matches("^[a-z0-9]+(?:-[a-z0-9]+)*$")) trimmed
    else s"vendor:$trimmed"
  }

  def parseErrorSpecRef(parseErrorId: String): String =
    "https://html.spec.whatwg.org/multipage/parsing.html#parse-errors"

  /** Shared trace plumbing for parse/parseFragment: pre-build events
    * (decode/input, maxInputBytes budget, token count) and the post-build
    * replay (tree-mutation, transitions, parse errors, node/depth budgets),
    * matching the reference's event order (mod.ts:475-588).
    */
  private final class TraceState(html: String, budgets: Option[Budgets]) {
    val buffer = new TraceBuffer(budgets)
    val transitions = new ArrayBuffer[TreeBuilder.ModeTransition]
    def onTransition: TreeBuilder.ModeTransition => Unit = transitions += _

    def pushPreBuild(): Unit = {
      buffer.push(seq => TraceDecodeEvent(seq, "input", "utf-8", "input"))
      buffer.pushBudget("maxInputBytes",
        budgets.flatMap(_.maxInputBytes).map(_.toLong), html.length.toLong)
      // the token-count event reflects the merged public token stream; the
      // extra tokenize pass runs only under trace (the reference always
      // double-tokenizes — mod.ts:492-498 — we pay it only when observing)
      val count = TokenizeApi.tokenize(html).tokens.length
      buffer.push(seq => TraceTokenEvent(seq, count))
    }

    def pushPostBuild(totalNodes: Int, maxDepth: Int, errors: ArrayBuffer[ErrRec]): Unit = {
      buffer.push(seq => TraceTreeMutationEvent(seq, totalNodes, errors.length))
      transitions.foreach { t =>
        buffer.push(seq => TraceInsertionModeTransitionEvent(seq, t.fromMode, t.toMode,
          Option(t.tokenType), Option(t.tokenTagName),
          if (t.tokenStart >= 0) Some(t.tokenStart) else None,
          if (t.tokenEnd >= 0) Some(t.tokenEnd) else None))
      }
      errors.foreach { e =>
        if (e.hasSpan)
          buffer.push(seq => TraceParseErrorEvent(seq,
            normalizeParseErrorId(e.code), Some(e.start), Some(e.end)))
      }
      buffer.pushBudget("maxNodes", budgets.flatMap(_.maxNodes).map(_.toLong), totalNodes.toLong)
      buffer.pushBudget("maxDepth", budgets.flatMap(_.maxDepth).map(_.toLong), maxDepth.toLong)
    }
  }

  // ------------------------------------------------------------------
  /** Parse a complete HTML document. */
  def parse(html: String, options: ParseOptions = ParseOptions()): DocumentTree =
    build(html, options)(_.parseDocument())(DocumentTree(1, _, _, _))

  /** Parse an HTML fragment in the given context tag name. */
  def parseFragment(
      html: String,
      contextTagName: String,
      options: ParseOptions = ParseOptions()
  ): FragmentTree = {
    // JS trim (mod.ts:647) — an NBSP-padded context name still normalizes
    val normalizedContext = VisibleText.jsTrim(contextTagName).toLowerCase
    require(normalizedContext.nonEmpty, "contextTagName must be a non-empty tag name")
    build(html, options)(_.parseFragment(normalizedContext))(
      FragmentTree(1, normalizedContext, _, _, _))
  }

  /** The one tree build: a [[TreeBuilder]] over `html`, `run` (document or
    * fragment mode), then the select/option patch on the builder's
    * document. Returns the parent `run` returned, whose children are the
    * tree. [[parse]] and [[parseFragment]] use it through [[build]], the
    * test sources' `.dat` normalizer (`DatNormalizer`) directly.
    */
  private[core] def buildDom(html: String, options: ParseOptions,
                             onError: (String, Int, Int) => Unit,
                             onTransition: TreeBuilder.ModeTransition => Unit)(
      run: TreeBuilder => DomParent): DomParent = {
    val builder = new TreeBuilder(html, options.scriptingEnabled, options.captureSpans,
      onError, onTransition)
    val parent = run(builder)
    if (builder.sawSelect) CompatPatch.patchSelectAdoption(builder.document)
    parent
  }

  /** The build path of [[parse]] and [[parseFragment]]: the input budget
    * and the trace's pre-build events, [[buildDom]], the conversion, the
    * node, depth and time budgets, and the trace's post-build replay; `root`
    * makes the public tree from the children, errors and trace.
    */
  private def build[T](html: String, options: ParseOptions)(run: TreeBuilder => DomParent)(
      root: (Vector[HtmlNode], Vector[ParseError], Option[Vector[TraceEvent]]) => T): T = {
    val startedAt = System.currentTimeMillis()
    val budgets = options.budgets
    BudgetExceededException.checkInt("maxInputBytes",
      budgets.flatMap(_.maxInputBytes), html.length.toLong)
    val trace = if (options.trace) new TraceState(html, budgets) else null
    if (trace != null) trace.pushPreBuild()

    val errors = new ArrayBuffer[ErrRec]
    val parent = buildDom(html, options,
      (code, s, e) => errors += new ErrRec(code, s, e, true),
      if (trace != null) trace.onTransition else null)(run)

    val state = new ConvertState(options.captureSpans, budgets.orNull, errors)
    val children = convertChildren(parent, state)
    // the reference's metrics (mod.ts:441-473) count the root node too and
    // put top-level nodes at depth 2, with 1 for an empty tree
    val totalNodes = state.nodeCount + 1
    val maxDepth = state.maxDepth + 2
    BudgetExceededException.checkInt("maxNodes", budgets.flatMap(_.maxNodes), totalNodes.toLong)
    BudgetExceededException.checkInt("maxDepth", budgets.flatMap(_.maxDepth), maxDepth.toLong)
    BudgetExceededException.check("maxTimeMs", budgets.flatMap(_.maxTimeMs),
      System.currentTimeMillis() - startedAt)

    if (trace != null) {
      trace.pushPostBuild(totalNodes, maxDepth, errors)
      root(children, toParseErrors(errors), Some(trace.buffer.result()))
    } else root(children, toParseErrors(errors), None)
  }

  /** Sniff encoding, decode, parse (reference: src/public/mod.ts:600-634).
    * Under trace, a decode(sniff) event is appended after the parse events.
    */
  def parseBytes(bytes: Array[Byte], options: ParseOptions = ParseOptions()): DocumentTree = {
    BudgetExceededException.checkInt("maxInputBytes",
      options.budgets.flatMap(_.maxInputBytes), bytes.length.toLong)
    val (text, sniff) = EncodingSniff.decodeHtmlBytes(bytes, options.transportEncodingLabel)
    parseDecoded(text, sniff, options)(_ => ())
  }

  /** [[parse]] of text decoded from bytes ([[parseBytes]],
    * [[Streaming.parseStream]]). Under trace, the parse events are copied
    * into a fresh buffer (re-checking the trace budgets), then the
    * decode(sniff) event is pushed, then whatever `more` pushes.
    */
  private[core] def parseDecoded(text: String, sniff: EncodingSniff.SniffResult,
                                 options: ParseOptions)(more: TraceBuffer => Unit): DocumentTree = {
    val parsed = parse(text, options)
    parsed.trace match {
      case Some(events) =>
        val buf = new TraceBuffer(options.budgets)
        events.foreach(e => buf.push(_ => e))
        buf.push(seq => TraceDecodeEvent(seq, "sniff", sniff.encoding, sniff.source))
        more(buf)
        parsed.copy(trace = Some(buf.result()))
      case None => parsed
    }
  }

  /** Tokens → tree by serializing the stream back to HTML and re-parsing
    * (the reference's buildTreeFromTokens trick,
    * src/internal/tree/build.ts:579-582): the token serializer escapes text
    * and re-quotes attributes, so behavior matches the reference exactly —
    * including its escaping of rawtext content on the round trip.
    */
  def parseTokens(tokens: Seq[HtmlToken],
                  options: ParseOptions = ParseOptions()): DocumentTree =
    parse(TokenizeApi.serializeForReparse(tokens), options)

  // ------------------------------------------------------------------
  // conversion: internal DOM -> public immutable tree

  /** The public tree of `root`'s children: one post-order walk with an
    * explicit frame stack, so the conversion's stack use does not grow with
    * the document's depth. The frame at `top` converts the children of
    * `parent` (`root` at 0, an element above) into `outs(top)`, child `i`
    * into slot `i`; `nexts(top)` is the index of its next child, and the
    * DOM's parent links lead back up. A node is counted
    * ([[ConvertState.enter]], with its budget errors) when the walk reaches
    * it, in pre-order, and an element takes its id when its frame is done,
    * after all of its descendants.
    */
  private def convertChildren(root: DomParent, state: ConvertState): Vector[HtmlNode] = {
    var outs = new Array[Array[AnyRef]](8)
    var nexts = new Array[Int](8)
    var top = 0
    var parent = root
    outs(0) = slots(root.children.length)
    var result: Vector[HtmlNode] = null
    while (result == null) {
      val kids = parent.children
      val next = nexts(top)
      if (next < kids.length) {
        nexts(top) = next + 1
        kids(next) match {
          case el: DomElement =>
            state.enter(top)
            top += 1
            if (top == outs.length) {
              outs = java.util.Arrays.copyOf(outs, 2 * top)
              nexts = java.util.Arrays.copyOf(nexts, 2 * top)
            }
            parent = el
            outs(top) = slots(el.children.length)
            nexts(top) = 0
          case leaf => outs(top)(next) = convertLeaf(leaf, top, state)
        }
      } else {
        // close up the slots of children that convert to nothing
        val out = outs(top)
        var n = 0
        var i = 0
        while (i < out.length) {
          if (out(i) != null) { out(n) = out(i); n += 1 }
          i += 1
        }
        val children = vectorOf[HtmlNode](out, n)
        if (top == 0) result = children
        else {
          val el = parent.asInstanceOf[DomElement]
          parent = el.parent
          outs(top) = null
          top -= 1
          outs(top)(nexts(top) - 1) = convertElement(el, children, state)
        }
      }
    }
    result
  }

  // an exact-size array for converted nodes or attributes (a shared one
  // for none: nothing can write to it)
  private val NoSlots = new Array[AnyRef](0)
  private def slots(n: Int): Array[AnyRef] = if (n == 0) NoSlots else new Array[AnyRef](n)

  /** The first `n` elements of `out` as a vector. Up to 32 of them,
    * `Vector.from` makes the `Object[]` itself the vector's array, with no
    * builder and no copy: safe, because nothing writes to `out` afterwards.
    */
  private def vectorOf[T](out: Array[AnyRef], n: Int): Vector[T] =
    if (n == 0) Vector.empty
    else Vector.from(ArraySeq.unsafeWrapArray(
      if (n == out.length) out else java.util.Arrays.copyOf(out, n))).asInstanceOf[Vector[T]]

  /** One conversion's id counter (the root takes id 1), its node count
    * and deepest node depth (top-level nodes at 0; -1 while no node), and
    * the tree layer's budget errors.
    */
  private final class ConvertState(
      val captureSpans: Boolean,
      val budgets: Budgets,
      val errors: ArrayBuffer[ErrRec]
  ) {
    private var lastId = 1
    var nodeCount = 0
    var maxDepth = -1

    /** Post-order ids: a node's subtree holds the ids after its previous
      * sibling's (a first child's, after those before its parent's
      * subtree) up to and including its own. [[MainContent]]'s tie-break
      * and `graft.pipeline.Extraction`'s span lookup rely on it.
      */
    def nextId(): Int = { lastId += 1; lastId }

    /** Counts a node at `depth` before its conversion. */
    def enter(depth: Int): Unit = {
      nodeCount += 1
      if (depth > maxDepth) maxDepth = depth
      checkBudgets(depth)
    }

    // no closures: this runs once per node
    private def checkBudgets(depth: Int): Unit = {
      if (budgets == null) return
      if (budgets.maxDepth.isDefined && depth > budgets.maxDepth.get)
        errors += new ErrRec("max-depth-exceeded", 0, 0, false)
      if (budgets.maxNodes.isDefined && nodeCount > budgets.maxNodes.get)
        errors += new ErrRec("max-nodes-exceeded", 0, 0, false)
    }
  }

  private def spanOf(n: DomNode, captureSpans: Boolean): Option[Span] =
    if (captureSpans && n.startOffset >= 0 && n.endOffset >= n.startOffset)
      Some(Span(n.startOffset, n.endOffset))
    else None

  private def provenanceOf(span: Option[Span], captureSpans: Boolean): String =
    if (!captureSpans) SpanProvenance.None
    else if (span.isDefined) SpanProvenance.Input
    else SpanProvenance.Inferred

  /** True when the tree builder's SVG/MathML attribute adjustment renamed
    * this attribute. Tokenized attribute names are ASCII-lowercased, so an
    * uppercase letter (`viewBox`, `definitionURL`) or the internal
    * `"prefix local"` space form (`xlink href`) proves an adjustment
    * happened (reference: parse5 foreign-content.js:29-90).
    */
  private def attrWasAdjusted(name: String): Boolean = {
    var i = 0
    while (i < name.length) {
      val c = name.charAt(i)
      if (c == ' ' || (c >= 'A' && c <= 'Z')) return true
      i += 1
    }
    false
  }

  /** Public name of an adjusted attribute — the LOCAL part. parse5 moves the
    * `xlink:`/`xml:`/`xmlns:` qualifier into a separate prefix field and the
    * reference's formatAttributeName (build.ts:145-150) never re-attaches it
    * (its `name.includes(":")` branch cannot fire post-adjustment), so the
    * reference's public tree names e.g. `xlink:href` in foreign content
    * plain `href`.
    */
  private def publicAttrName(name: String): String = {
    val sp = name.indexOf(' ')
    if (sp >= 0) name.substring(sp + 1) else name
  }

  /** A text, comment or doctype node at `depth`; null for any other. */
  private def convertLeaf(node: DomNode, depth: Int, state: ConvertState): HtmlNode = node match {
    case t: DomText =>
      state.enter(depth)
      val sp = spanOf(t, state.captureSpans)
      TextNode(state.nextId(), t.text, provenanceOf(sp, state.captureSpans), sp)
    case c: DomComment =>
      state.enter(depth)
      val sp = spanOf(c, state.captureSpans)
      CommentNode(state.nextId(), c.value, provenanceOf(sp, state.captureSpans), sp)
    case d: DomDoctype =>
      state.enter(depth)
      val sp = spanOf(d, state.captureSpans)
      DoctypeNode(
        state.nextId(),
        d.name,
        if (d.publicId.nonEmpty) Some(d.publicId) else None,
        if (d.systemId.nonEmpty) Some(d.systemId) else None,
        provenanceOf(sp, state.captureSpans),
        sp
      )
    case _ => null
  }

  /** Element `el` with its converted `kids`: its public attributes, span and id. */
  private def convertElement(el: DomElement, kids: Vector[HtmlNode], state: ConvertState): HtmlNode = {
    // NOTE: the attribute budgets (maxAttributesPerElement /
    // maxAttributeBytes) exist in the option surface but are silently
    // DROPPED by the reference's public parse — its
    // treeBudgetsFromParseOptions forwards only maxNodes/maxDepth to the
    // tree layer, so the build.ts:200-235 checks never run (verified
    // differentially); they are accepted-and-ignored here to match.
    // Mirrors the reference's public attribute normalization
    // (build.ts:195-235): the parser-adjusted attr surfaces under its
    // LOCAL name (parse5 moves the `xlink:`/`xml:`/`xmlns:` qualifier
    // into a separate prefix field, and formatAttributeName's
    // `name.includes(":")` branch never fires post-adjustment, so the
    // reference's public name for e.g. `xlink:href` in foreign content
    // is plain `href`); collisions after formatting keep the FIRST
    // occurrence; and adjusted attrs carry NO span (the reference's
    // location lookup is keyed by the tokenized name, which the
    // adjustment renamed away — build.ts:218).
    // A pre-scan: only elements with at least one adjusted attr pay for
    // the rename/dedup set (tokenized names are ASCII-lowercased, so
    // dedup-by-exact-name already happened in the tokenizer).
    var anyAdjusted = false
    var j = 0
    while (j < el.attrCount && !anyAdjusted) {
      if (attrWasAdjusted(el.attrAt(j).name)) anyAdjusted = true
      j += 1
    }
    val seen = if (anyAdjusted) new java.util.HashSet[String]() else null
    val attrs = slots(el.attrCount)
    var n = 0
    var i = 0
    while (i < el.attrCount) {
      val a = el.attrAt(i)
      val adjusted = anyAdjusted && attrWasAdjusted(a.name)
      val name = if (adjusted) publicAttrName(a.name) else a.name
      if (seen == null || seen.add(name)) {
        val sp =
          if (state.captureSpans && !adjusted && a.start >= 0 && a.end >= a.start)
            Some(Span(a.start, a.end))
          else None
        attrs(n) = Attr(name, a.value, sp)
        n += 1
      }
      i += 1
    }
    // an element with no end location spans its start tag
    val full = spanOf(el, state.captureSpans)
    val elSpan =
      if (full.isDefined || !state.captureSpans || el.startOffset < 0 || el.startTagEnd < el.startOffset) full
      else Some(Span(el.startOffset, el.startTagEnd))
    ElementNode(
      state.nextId(),
      el.tagName, // public tag name: namespace prefix already absent
      vectorOf(attrs, n),
      kids,
      provenanceOf(elSpan, state.captureSpans),
      elSpan
    )
  }

  private def toParseErrors(errors: ArrayBuffer[ErrRec]): Vector[ParseError] =
    if (errors.isEmpty) Vector.empty
    else errors.iterator.map { e =>
      val span =
        if (e.hasSpan && e.start >= 0 && e.end >= e.start) Some(Span(e.start, e.end))
        else None
      ParseError("PARSER_ERROR", normalizeParseErrorId(e.code), e.code, span)
    }.toVector
}

/** Post-parse select/option compatibility rewrite carried over from the
  * reference (reference: src/internal/tree/build.ts:307-381): bare
  * `<select><option>` pairs that are adjacent children of `body` get their
  * option subtrees wrapped in `<b>` elements, preserving html5lib-fixture
  * expectations for a newer spec change in the vendored parser.
  */
object CompatPatch {

  /** Patches every HTML `body` under `root`, each once its subtree is
    * walked: one post-order walk with an explicit stack of (parent, index
    * of its next child) frames, so its stack use does not grow with the
    * document's depth.
    */
  def patchSelectAdoption(root: DomParent): Unit = {
    var parents = new Array[DomParent](16)
    var nexts = new Array[Int](16)
    var top = 0
    parents(0) = root
    while (top >= 0) {
      val node = parents(top)
      val next = nexts(top)
      if (next < node.children.length) {
        nexts(top) = next + 1
        node.children(next) match {
          case p: DomParent =>
            top += 1
            if (top == parents.length) {
              parents = java.util.Arrays.copyOf(parents, 2 * top)
              nexts = java.util.Arrays.copyOf(nexts, 2 * top)
            }
            parents(top) = p
            nexts(top) = 0
          case _ =>
        }
      } else {
        node match {
          case el: DomElement if el.tagName == "body" && el.namespace == Ns.Html =>
            patchBody(el)
          case _ =>
        }
        parents(top) = null
        top -= 1
      }
    }
  }

  private def isBareElement(n: DomNode, tag: String): Boolean = n match {
    case e: DomElement => e.namespace == Ns.Html && e.tagName == tag
    case _             => false
  }

  private def patchBody(body: DomElement): Unit = {
    var index = 0
    while (index < body.children.length - 1) {
      val left = body.children(index)
      val right = body.children(index + 1)
      val applicable = isBareElement(left, "select") && isBareElement(right, "option") && {
        val sel = left.asInstanceOf[DomElement]
        val opt = right.asInstanceOf[DomElement]
        sel.attrCount == 0 && opt.attrCount == 0 &&
        sel.children.length == 1 && isBareElement(sel.children(0), "option") &&
        sel.children(0).asInstanceOf[DomElement].attrCount == 0
      }
      if (applicable) {
        val sel = left.asInstanceOf[DomElement]
        val opt = right.asInstanceOf[DomElement]
        val selOption = sel.children(0).asInstanceOf[DomElement]

        val leftWrapper = new DomElement("b", sel.namespace)
        leftWrapper.parent = sel
        selOption.parent = leftWrapper
        leftWrapper.children += selOption
        sel.children.clear()
        sel.children += leftWrapper

        val detachedText = opt.children.filter(_.isInstanceOf[DomText])
        val kept = opt.children.filterNot(_.isInstanceOf[DomText])
        opt.children.clear()
        opt.children ++= kept

        val rightWrapper = new DomElement("b", opt.namespace)
        rightWrapper.parent = body
        opt.parent = rightWrapper
        rightWrapper.children += opt
        body.children(index + 1) = rightWrapper

        if (detachedText.nonEmpty) {
          detachedText.foreach(_.parent = body)
          body.children.insertAll(index + 2, detachedText)
        }
      }
      index += 1
    }
  }
}
