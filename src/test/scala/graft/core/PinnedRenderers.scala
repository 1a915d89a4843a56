package graft.core

/** The renderers whose outputs [[PinnedCorpusSpec]] pins: one canonical
  * string per (kind, input) over every public surface the round-5
  * differential compared against the reference (tree construction, the
  * token stream, fragment parsing, byte decoding and the extraction API).
  */
object PinnedRenderers {

  // kind bits of a pinned row; a row may carry several (tree and token
  // share their inputs)
  final val Tree = 1
  final val Token = 2
  final val Fragment = 4
  final val Bytes = 8
  final val Extract = 16
  val Kinds: Seq[(Int, String)] = Seq(
    Tree -> "tree", Token -> "token", Fragment -> "fragment", Bytes -> "bytes", Extract -> "extract")

  /** Renders `input` as `kind`; `aux` is the fragment context or the bytes
    * transport label. A throw is rendered, not propagated, so it is pinned
    * like any other output.
    */
  def render(kind: Int, aux: Option[String], input: Array[Byte],
             onModeTransition: TreeBuilder.ModeTransition => Unit = null): String =
    try kind match {
      case Tree => tree(utf8(input), onModeTransition)
      case Token => tokens(utf8(input))
      case Fragment => fragment(aux.get, utf8(input), onModeTransition)
      case Bytes => bytes(input, aux)
      case Extract => extract(utf8(input))
    } catch { case e: Throwable => s"THREW: ${e.getClass.getName}: ${e.getMessage}" }

  private def utf8(b: Array[Byte]): String = new String(b, java.nio.charset.StandardCharsets.UTF_8)

  /** html5lib-normalized document tree, without the select compat patch
    * (the differential compared raw parse5 semantics; the patch has its own
    * suite).
    */
  def tree(html: String, onModeTransition: TreeBuilder.ModeTransition => Unit = null): String =
    DatNormalizer.normalizeTree(new TreeBuilder(html, true, false, (_, _, _) => (), onModeTransition).parseDocument())

  /** html5lib-normalized fragment tree in `context` (no compat patch). */
  def fragment(context: String, html: String,
               onModeTransition: TreeBuilder.ModeTransition => Unit = null): String = {
    val builder = new TreeBuilder(html, true, false, (_, _, _) => (), onModeTransition)
    DatNormalizer.normalizeTree(builder.parseFragment(context.trim.toLowerCase))
  }

  /** [[TokenizeApi.tokenize]]'s public stream, one token per line, then its errors. */
  def tokens(html: String): String = {
    val r = TokenizeApi.tokenize(html)
    val lines = r.tokens.map {
      case StartTagTok(name, attrs, selfClosing) =>
        val seen = scala.collection.mutable.Set[String]()
        val rendered = attrs.collect { case (k, v) if seen.add(k) => s"$k=${Json.quote(v)}" }.mkString(",")
        s"StartTag($name)[$rendered]${if (selfClosing) "/" else ""}"
      case EndTagTok(name) => s"EndTag($name)"
      case CharsTok(data) => s"Chars(${Json.quote(data)})"
      case CommentTok(data) => s"Comment(${Json.quote(data)})"
      case DoctypeToken(name, publicId, systemId, forceQuirks) =>
        s"Doctype($name,${publicId.getOrElse("")},${systemId.getOrElse("")},$forceQuirks)"
      case EofTok => "EOF"
    } ++ r.errors.map(e => s"Err(${e.code},${e.index})")
    lines.mkString("\n")
  }

  /** [[EncodingSniff.decodeHtmlBytes]]: `[text, encoding, source]`. */
  def bytes(input: Array[Byte], transport: Option[String]): String = {
    val (text, sniff) = EncodingSniff.decodeHtmlBytes(input, transport)
    new Json().arr { j => j.str(text).str(sniff.encoding).str(sniff.source) }.toString
  }

  /** One JSON record over every public extraction surface: visible text
    * under each option toggle, tokens, provenance, text content, outline,
    * chunks, serialization, fragments, spans and parse errors (document and
    * td fragment), insertion-mode transitions, the tokenize facade under
    * option combos, a tight-budget parse and a patch plan.
    */
  def extract(html: String): String = {
    val j = new Json(html.length * 2 + 256)
    val tree = HtmlParser.parse(html)
    def textTokens(ts: Seq[VisibleTextToken]): Unit =
      j.arr(_ => ts.foreach(t => j.arr(_.str(t.kind).str(t.value))))
    def chunks(cs: Seq[Chunk]): Unit =
      j.arr(_ => cs.foreach(c => j.arr(_.num(c.index).num(c.nodeId).num(c.nodes).str(c.content))))
    def span(s: Option[Span]): Unit = j.numOpt(s.map(_.start)).numOpt(s.map(_.end))
    def spans(walk: ((HtmlNode, Int) => Unit) => Unit): Unit = j.arr { _ =>
      walk { (node, depth) =>
        j.arr { _ =>
          j.num(node.id).num(depth).str(node.kind)
          node match {
            case e: ElementNode => j.str(e.tagName)
            case _ => j.str("")
          }
          j.str(node.spanProvenance)
          span(node.span)
          node match {
            case e: ElementNode => j.arr(_ => e.attributes.foreach(a => j.arr { _ => j.str(a.name).str(a.value); span(a.span) }))
            case _ =>
          }
        }
      }
    }
    def errors(es: Seq[ParseError]): Unit =
      j.arr(_ => es.foreach(e => j.arr { _ => j.str(e.code).str(e.parseErrorId); span(e.span) }))

    j.obj { _ =>
      j.field("vt_default").str(VisibleText.ofDocument(tree))
      j.field("vt_keep_hidden").str(VisibleText.ofDocument(tree, VisibleTextOptions(skipHiddenSubtrees = false)))
      j.field("vt_no_controls").str(VisibleText.ofDocument(tree, VisibleTextOptions(includeControlValues = false)))
      j.field("vt_accname").str(VisibleText.ofDocument(tree, VisibleTextOptions(includeAccessibleNameFallback = true)))
      j.field("vt_no_trim").str(VisibleText.ofDocument(tree, VisibleTextOptions(trim = false)))
      j.field("tokens"); textTokens(VisibleText.tokensOfDocument(tree))
      j.field("prov").arr(_ => VisibleText.tokensWithProvenance(tree.children).foreach { t =>
        j.arr { _ =>
          j.str(t.kind).str(t.value).numOpt(t.sourceNodeId).str(t.sourceNodeKind).str(t.sourceRole)
        }
      })
      j.field("text_content").str(Traversal.textContent(tree.children))
      j.field("outline").arr(_ => Traversal.outline(tree.children).entries.foreach(e =>
        j.arr(_.num(e.nodeId).num(e.depth).str(e.tagName).str(e.text))))
      j.field("chunks"); chunks(Traversal.chunk(tree.children))
      j.field("chunks_small"); chunks(Traversal.chunk(tree.children, ChunkOptions(maxChars = 48, maxNodes = 5, maxBytes = 200L)))
      j.field("serialize").str(Serializer.serialize(tree))
      j.field("frags").arr(_ => Seq("div", "td", "p").foreach { ctx =>
        val ft = HtmlParser.parseFragment(html, ctx)
        j.arr { _ =>
          j.str(VisibleText.ofFragment(ft))
          textTokens(VisibleText.tokensOfFragment(ft))
          j.str(Serializer.serialize(ft))
        }
      })
      val st = HtmlParser.parse(html, ParseOptions(captureSpans = true))
      j.field("spans"); spans(Traversal.walk(st)(_))
      j.field("errors"); errors(st.errors)
      val sf = HtmlParser.parseFragment(html, "td", ParseOptions(captureSpans = true))
      j.field("frag_spans"); spans(Traversal.walk(sf)(_))
      j.field("frag_errors"); errors(sf.errors)
      // trace events carry the last start/end tag token as context
      val tt = HtmlParser.parse(html, ParseOptions(trace = true))
      j.field("transitions").arr(_ => tt.trace.toVector.flatten.foreach {
        case t: TraceInsertionModeTransitionEvent =>
          j.arr { _ =>
            j.str(t.fromMode).str(t.toMode)
            j.strOpt(t.tokenType).strOpt(t.tokenTagName).numOpt(t.tokenStartOffset).numOpt(t.tokenEndOffset)
          }
        case _ =>
      })
      j.field("tok_facade").arr(_ => TokenizeCombos.foreach(o => tokenizeFacade(j, html, o)))
      j.field("budget_probe"); budgetProbe(j, html)
      j.field("patch"); patch(j, html, tree)
    }.toString
  }

  private val TokenizeCombos = Vector(
    TokenizeOpts(),
    TokenizeOpts(initialState = "RCDATA state", lastStartTag = "textarea"),
    TokenizeOpts(initialState = "RAWTEXT state", lastStartTag = "style"),
    TokenizeOpts(initialState = "Script data state", lastStartTag = "script"),
    TokenizeOpts(initialState = "PLAINTEXT state"),
    TokenizeOpts(initialState = "CDATA section state"),
    TokenizeOpts(maxTextBytes = Some(40), maxParseErrors = Some(2)),
    TokenizeOpts(maxTokenBytes = Some(60)),
    TokenizeOpts(doubleEscaped = true),
    TokenizeOpts(xmlViolationMode = true)
  )

  private def tokenizeFacade(j: Json, html: String, o: TokenizeOpts): Unit = {
    val r = try Right(TokenizeApi.tokenize(html, o)) catch { case e: Exception => Left(e) }
    r match {
      case Right(r) =>
        j.arr { _ =>
          j.arr(_ => r.tokens.foreach {
            case StartTagTok(n, attrs, sc) =>
              j.arr(_.str("S").str(n).arr(_ => attrs.foreach { case (k, v) => j.arr(_.str(k).str(v)) }).bool(sc))
            case EndTagTok(n) => j.arr(_.str("E").str(n))
            case CharsTok(d) => j.arr(_.str("C").str(d))
            case CommentTok(d) => j.arr(_.str("M").str(d))
            case DoctypeToken(n, pid, sid, fq) =>
              j.arr(_.str("D").str(n).strOpt(pid).strOpt(sid).bool(fq))
            case EofTok => j.arr(_.str("F"))
          })
          j.arr(_ => r.errors.foreach(e => j.arr(_.str(e.code).num(e.index))))
        }
      case Left(e) => j.arr(_.str("THREW").str(String.valueOf(e.getMessage)))
    }
  }

  /** Tight budgets: either the same error pushes or the same (budget, limit, actual) trip. */
  private def budgetProbe(j: Json, html: String): Unit =
    try {
      val bt = HtmlParser.parse(html, ParseOptions(budgets = Some(Budgets(
        maxDepth = Some(6), maxNodes = Some(40),
        maxAttributesPerElement = Some(2), maxAttributeBytes = Some(40)))))
      j.arr(_.str("ok").arr(_ => bt.errors.foreach { e =>
        j.arr(_.str(e.parseErrorId).numOpt(e.span.map(_.start)))
      }))
    } catch {
      case e: BudgetExceededException =>
        j.arr(_.str("budget").str(e.payload.budget).num(e.payload.limit).num(e.payload.actual))
    }

  /** A deterministic, overlap-heavy edit script over the tree's node ids, so
    * planning failures are pinned by code too.
    */
  private def patch(j: Json, html: String, tree: DocumentTree): Unit = {
    val edits = Vector.newBuilder[Edit]
    var i = 0
    Traversal.walk(tree) { (node, _) =>
      val id = node.id
      (node, i % 7) match {
        case (_: ElementNode, 0) => edits += SetAttr(id, "data-x", "v&\"'<>")
        case (_: TextNode, 1) => edits += ReplaceText(id, "R & T")
        case (e: ElementNode, 2) if e.attributes.nonEmpty => edits += RemoveAttr(id, e.attributes.head.name)
        case (_: ElementNode, 3) => edits += InsertHtmlBefore(id, "<i>b</i>")
        case (_: ElementNode, 4) => edits += InsertHtmlAfter(id, "<i>a</i>")
        case (_: ElementNode, 5) => edits += RemoveNode(id)
        case _ =>
      }
      i += 1
    }
    try {
      val plan = Patch.computePatch(html, edits.result())
      j.arr(_.str("ok").str(plan.result).bool(Patch.applyPatchPlan(html, plan) == plan.result))
    } catch {
      case e: PatchPlanningException =>
        j.arr(_.str("err").str(e.payload.code).numOpt(e.payload.target))
      case e: Exception => j.arr(_.str("err").str(String.valueOf(e.getMessage)).nul())
    }
  }
}

/** A minimal JSON writer: values inside an array or object are separated
  * with commas as they are appended.
  */
final class Json(capacity: Int = 256) {
  private val sb = new java.lang.StringBuilder(capacity)
  private var first = true

  private def value(): java.lang.StringBuilder = {
    if (!first) sb.append(',')
    first = false
    sb
  }
  def str(s: String): Json = { Json.escape(value(), s); this }
  def num(n: Long): Json = { value().append(n); this }
  def bool(b: Boolean): Json = { value().append(b); this }
  def nul(): Json = { value().append("null"); this }
  def strOpt(s: Option[String]): Json = s.fold(nul())(str)
  def numOpt(n: Option[Int]): Json = n.fold(nul())(num(_))
  def arr(body: Json => Unit): Json = nest('[', ']', body)
  def obj(body: Json => Unit): Json = nest('{', '}', body)
  /** The key of the next value in an object. */
  def field(name: String): Json = { Json.escape(value(), name); sb.append(':'); first = true; this }

  private def nest(open: Char, close: Char, body: Json => Unit): Json = {
    value().append(open)
    first = true
    body(this)
    sb.append(close)
    first = false
    this
  }
  override def toString: String = sb.toString
}

object Json {
  def quote(s: String): String = { val sb = new java.lang.StringBuilder(s.length + 2); escape(sb, s); sb.toString }

  /** JSON string literal; controls and lone surrogate halves as `\\uXXXX`. */
  def escape(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ =>
          if (c < 0x20 || Character.isSurrogate(c)) sb.append(f"\\u${c.toInt}%04x")
          else sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}
