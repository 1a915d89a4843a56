package graft.core

import scala.collection.mutable.ArrayBuffer

/** Public token model + standalone tokenize (reference:
  * src/internal/tokenizer/tokenize.ts:139-259 and the public token shape
  * src/public/types.ts:93-99). Adjacent character tokens are merged; the
  * stream always ends with an EOF token.
  */
sealed trait HtmlToken
final case class StartTagTok(
    name: String,
    attributes: Vector[(String, String)],
    selfClosing: Boolean
) extends HtmlToken
final case class EndTagTok(name: String) extends HtmlToken
final case class CharsTok(data: String) extends HtmlToken
final case class CommentTok(data: String) extends HtmlToken
final case class DoctypeToken(
    name: String,
    publicId: Option[String],
    systemId: Option[String],
    forceQuirks: Boolean
) extends HtmlToken
case object EofTok extends HtmlToken

final case class TokenizerError(code: String, index: Int)

final case class TokenizeOpts(
    initialState: String = "Data state",
    lastStartTag: String = "",
    cdata: Boolean = false,
    maxParseErrors: Option[Int] = None,
    maxTextBytes: Option[Int] = None,
    maxTokenBytes: Option[Int] = None,
    doubleEscaped: Boolean = false,
    xmlViolationMode: Boolean = false
)

final case class TokenizeResult(tokens: Vector[HtmlToken], errors: Vector[TokenizerError])

object TokenizeApi {

  private val StateByName: Map[String, Int] = Map(
    "Data state" -> TokenizerState.Data,
    "RCDATA state" -> TokenizerState.Rcdata,
    "RAWTEXT state" -> TokenizerState.Rawtext,
    "Script data state" -> TokenizerState.ScriptData,
    "PLAINTEXT state" -> TokenizerState.Plaintext,
    "CDATA section state" -> TokenizerState.CdataSection
  )

  /** html5lib-fixture token post-normalizers (reference: tokenize.ts:28-66):
    * the doubleEscaped / xmlViolation fixture modes rewrite character and
    * comment data after tokenization.
    */
  private def normalizeCharacterData(value: String, input: String,
                                     opts: TokenizeOpts): String = {
    var v = value
    if (opts.doubleEscaped && opts.initialState != "CDATA section state") {
      v = v.replace("\u0000", "\uFFFD")
      v = v.replace("\\u0000", "\\uFFFD")
    }
    if (opts.xmlViolationMode) {
      v = v.replace('\uFFFE', '\uFFFD').replace('\uFFFF', '\uFFFD')
      v = v.replace('\f', ' ')
    }
    if (opts.initialState == "CDATA section state" && opts.doubleEscaped &&
        input.endsWith("]]>") && v.endsWith("]]>"))
      v = v.substring(0, v.length - 3)
    v
  }

  private def normalizeCommentData(value: String, opts: TokenizeOpts): String = {
    var v = value
    if (opts.doubleEscaped) {
      v = v.replace("\u0000", "\uFFFD")
      v = v.replace("\\u0000", "\\uFFFD")
    }
    if (opts.xmlViolationMode) v = v.replace("--", "- -")
    v
  }

  private final class CollectingSink(input: String, opts: TokenizeOpts) extends TokenSink {
    val tokens = new ArrayBuffer[HtmlToken]
    val errors = new ArrayBuffer[TokenizerError]

    private def pushChars(data0: String): Unit = {
      val data = normalizeCharacterData(data0, input, opts)
      tokens.lastOption match {
        case Some(CharsTok(prev)) =>
          tokens(tokens.length - 1) = CharsTok(prev + data)
        case _ => tokens += CharsTok(data)
      }
    }

    override def onChars(data: String, start: Int, end: Int): Unit = pushChars(data)
    override def onWhitespace(data: String, start: Int, end: Int): Unit = pushChars(data)
    override def onNull(start: Int, end: Int, count: Int): Unit =
      pushChars("\u0000" * count)
    override def onStartTag(tag: TagToken): Unit =
      tokens += StartTagTok(
        tag.name,
        tag.attrs.iterator.map(a => (a.name, a.value)).toVector,
        tag.selfClosing
      )
    override def onEndTag(tag: TagToken): Unit = tokens += EndTagTok(tag.name)
    override def onComment(data: String, start: Int, end: Int): Unit =
      tokens += CommentTok(normalizeCommentData(data, opts))
    override def onDoctype(d: DoctypeTok): Unit =
      tokens += DoctypeToken(
        if (d.name == null) "" else d.name,
        Option(d.publicId),
        Option(d.systemId),
        d.forceQuirks
      )
    override def onEof(pos: Int): Unit = tokens += EofTok
    override def onParseError(code: String, start: Int, end: Int): Unit = {
      if (opts.maxParseErrors.forall(errors.length < _))
        errors += TokenizerError(code, start)
    }
    override def cdataAllowed: Boolean =
      opts.cdata || opts.initialState == "CDATA section state"
  }

  def tokenize(input: String, opts: TokenizeOpts = TokenizeOpts()): TokenizeResult = {
    val sink = new CollectingSink(input, opts)
    val tokenizer = new Tokenizer(input, sink)
    tokenizer.state = StateByName.getOrElse(opts.initialState, TokenizerState.Data)
    tokenizer.lastStartTagName = opts.lastStartTag.toLowerCase
    tokenizer.run()
    // doubleEscaped comment re-interpretation hack (reference
    // tokenize.ts:231-241): a whole-input `<!----!…-->` that tokenized to a
    // single character run is re-read as one comment token
    if (opts.doubleEscaped && input.startsWith("<!----!") && input.endsWith("-->") &&
        sink.tokens.length == 2 && sink.tokens(0).isInstanceOf[CharsTok] &&
        sink.tokens(1) == EofTok)
      sink.tokens(0) = CommentTok(
        normalizeCommentData(input.substring(4, input.length - 3), opts))
    // post-merge budgets (reference tokenize.ts enforceBudgets: run over the
    // merged stream BEFORE the EOF append, pushed past the maxParseErrors
    // cap; maxTokenBytes measures the JSON.stringify rendering)
    val body = sink.tokens.view.filter(_ != EofTok).toVector
    opts.maxTextBytes.foreach { m =>
      val textBytes = body.collect { case CharsTok(d) => d.length }.sum
      if (textBytes > m)
        sink.errors += TokenizerError("max-text-bytes-exceeded", textBytes)
    }
    opts.maxTokenBytes.foreach { m =>
      if (body.exists(t => jsonStringifyLength(t) > m))
        sink.errors += TokenizerError("max-token-bytes-exceeded", 0)
    }
    TokenizeResult(sink.tokens.toVector, sink.errors.toVector)
  }

  /** The JS `JSON.stringify` rendering of a token — the unit the
    * reference's maxTokenBytes budget measures (tokenize.ts enforceBudgets
    * compares JSON.stringify(token).length).
    */
  private def jsonStringifyLength(t: HtmlToken): Int = {
    def s(v: String): String = {
      val b = new java.lang.StringBuilder(v.length + 2)
      b.append('"')
      var i = 0
      while (i < v.length) {
        val c = v.charAt(i)
        c match {
          case '"'  => b.append("\\\"")
          case '\\' => b.append("\\\\")
          case '\b' => b.append("\\b")
          case '\f' => b.append("\\f")
          case '\n' => b.append("\\n")
          case '\r' => b.append("\\r")
          case '\t' => b.append("\\t")
          case c if c < 0x20 => b.append(f"\\u$c%04x")
          case c if c >= 0xd800 && c <= 0xdfff =>
            val paired =
              (c < 0xdc00 && i + 1 < v.length && {
                val d = v.charAt(i + 1); d >= 0xdc00 && d <= 0xdfff
              }) ||
                (c >= 0xdc00 && i > 0 && {
                  val d = v.charAt(i - 1); d >= 0xd800 && d < 0xdc00
                })
            if (paired) b.append(c) else b.append(f"\\u$c%04x")
          case c => b.append(c)
        }
        i += 1
      }
      b.append('"').toString
    }
    val r = t match {
      case StartTagTok(name, attrs, selfClosing) =>
        val a = attrs.map { case (k, v) => s(k) + ":" + s(v) }.mkString(",")
        "{\"type\":\"StartTag\",\"name\":" + s(name) +
          ",\"attributes\":{" + a + "},\"selfClosing\":" + selfClosing + "}"
      case EndTagTok(name) => "{\"type\":\"EndTag\",\"name\":" + s(name) + "}"
      case CharsTok(d)     => "{\"type\":\"Character\",\"data\":" + s(d) + "}"
      case CommentTok(d)   => "{\"type\":\"Comment\",\"data\":" + s(d) + "}"
      case DoctypeToken(name, publicId, systemId, forceQuirks) =>
        "{\"type\":\"Doctype\",\"name\":" + s(name) +
          ",\"publicId\":" + publicId.map(s).getOrElse("null") +
          ",\"systemId\":" + systemId.map(s).getOrElse("null") +
          ",\"forceQuirks\":" + forceQuirks + "}"
      case EofTok => "{\"type\":\"EOF\"}"
    }
    r.length
  }

  /** Serialize a token stream back to HTML for re-parsing (reference
    * buildTreeFromTokens' serializeTokens, src/internal/tree/build.ts:500-544):
    * text is entity-escaped, attribute values are double-quoted with
    * first-occurrence-wins dedup, EOF is dropped. Round-tripping through
    * this form is how tokens become a tree — matching the reference's
    * behavior exactly, including its escaping of rawtext content.
    */
  def serializeForReparse(tokens: Seq[HtmlToken]): String = {
    val sb = new java.lang.StringBuilder
    def escText(v: String): String =
      v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def escAttr(v: String): String =
      v.replace("&", "&amp;").replace("\"", "&quot;")
    tokens.foreach {
      case EofTok =>
      case StartTagTok(name, attributes, selfClosing) =>
        sb.append('<').append(name)
        val seen = scala.collection.mutable.Set[String]()
        attributes.foreach { case (n, v) =>
          if (seen.add(n)) sb.append(' ').append(n).append("=\"").append(escAttr(v)).append('"')
        }
        sb.append(if (selfClosing) "/>" else ">")
      case EndTagTok(name)  => sb.append("</").append(name).append('>')
      case CharsTok(data)   => sb.append(escText(data))
      case CommentTok(data) => sb.append("<!--").append(data).append("-->")
      case DoctypeToken(name, publicId, systemId, _) =>
        if (publicId.isDefined || systemId.isDefined)
          sb.append("<!DOCTYPE ").append(name).append(" \"")
            .append(publicId.getOrElse("")).append("\" \"")
            .append(systemId.getOrElse("")).append("\">")
        else sb.append("<!DOCTYPE ").append(name).append('>')
    }
    sb.toString
  }
}
