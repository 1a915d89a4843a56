package graft.core

import scala.collection.mutable.StringBuilder

/** WHATWG HTML tokenizer (spec §13.2.5) over a fully-buffered UTF-16 string.
  *
  * Re-expresses the behavior of the reference's vendored tokenizer
  * (reference: src/internal/vendor/parse5/tokenizer/index.js, 73 states) as
  * an idiomatic Scala state machine written from the published WHATWG
  * algorithm. Differences from a streaming tokenizer: input is complete, so
  * character references are resolved inline (no re-entrant charref states)
  * and CRLF normalization happens at read time while span offsets keep
  * pointing into the ORIGINAL string (code-unit offsets, reference semantics
  * per SURVEY.md §7.5).
  *
  * The tree builder drives `state`/`lastStartTagName` switches for RCDATA /
  * RAWTEXT / script data / PLAINTEXT elements, and `sink.cdataAllowed` for
  * `<![CDATA[` in foreign content.
  */
object TokenizerState {
  final val Data = 0
  final val Rcdata = 1
  final val Rawtext = 2
  final val ScriptData = 3
  final val Plaintext = 4
  final val TagOpen = 5
  final val EndTagOpen = 6
  final val TagName = 7
  final val RcdataLessThan = 8
  final val RcdataEndTagOpen = 9
  final val RcdataEndTagName = 10
  final val RawtextLessThan = 11
  final val RawtextEndTagOpen = 12
  final val RawtextEndTagName = 13
  final val ScriptDataLessThan = 14
  final val ScriptDataEndTagOpen = 15
  final val ScriptDataEndTagName = 16
  final val ScriptDataEscapeStart = 17
  final val ScriptDataEscapeStartDash = 18
  final val ScriptDataEscaped = 19
  final val ScriptDataEscapedDash = 20
  final val ScriptDataEscapedDashDash = 21
  final val ScriptDataEscapedLessThan = 22
  final val ScriptDataEscapedEndTagOpen = 23
  final val ScriptDataEscapedEndTagName = 24
  final val ScriptDataDoubleEscapeStart = 25
  final val ScriptDataDoubleEscaped = 26
  final val ScriptDataDoubleEscapedDash = 27
  final val ScriptDataDoubleEscapedDashDash = 28
  final val ScriptDataDoubleEscapedLessThan = 29
  final val ScriptDataDoubleEscapeEnd = 30
  final val BeforeAttrName = 31
  final val AttrName = 32
  final val AfterAttrName = 33
  final val BeforeAttrValue = 34
  final val AttrValueDouble = 35
  final val AttrValueSingle = 36
  final val AttrValueUnquoted = 37
  final val AfterAttrValueQuoted = 38
  final val SelfClosingStartTag = 39
  final val BogusComment = 40
  final val MarkupDeclarationOpen = 41
  final val CommentStart = 42
  final val CommentStartDash = 43
  final val Comment = 44
  final val CommentLessThan = 45
  final val CommentLessThanBang = 46
  final val CommentLessThanBangDash = 47
  final val CommentLessThanBangDashDash = 48
  final val CommentEndDash = 49
  final val CommentEnd = 50
  final val CommentEndBang = 51
  final val DoctypeState = 52
  final val BeforeDoctypeName = 53
  final val DoctypeName = 54
  final val AfterDoctypeName = 55
  final val AfterDoctypePublicKeyword = 56
  final val BeforeDoctypePublicId = 57
  final val DoctypePublicIdDouble = 58
  final val DoctypePublicIdSingle = 59
  final val AfterDoctypePublicId = 60
  final val BetweenDoctypePublicAndSystem = 61
  final val AfterDoctypeSystemKeyword = 62
  final val BeforeDoctypeSystemId = 63
  final val DoctypeSystemIdDouble = 64
  final val DoctypeSystemIdSingle = 65
  final val AfterDoctypeSystemId = 66
  final val BogusDoctype = 67
  final val CdataSection = 68
  final val CdataSectionBracket = 69
  final val CdataSectionEnd = 70
}

/** Bounded process-wide intern table for already-lowercase tag and
  * attribute names: names repeat massively across web-scale corpora, so
  * reusing one String per distinct name skips a per-token StringBuilder
  * copy + allocation and gives every downstream name lookup (scope-flag
  * caches, HtmlMeta maps, attribute scans) a String with a warm cached
  * hashCode. Fixed power-of-two direct-mapped table: collisions simply
  * overwrite (last-write-wins is safe — values are verified by region
  * compare before reuse, and String is immutable), so unbounded junk names
  * from untrusted input cannot grow it.
  */
private object TagNameInterner {
  private final val Mask = 2047
  private val slots = new Array[String](Mask + 1)

  def lookup(input: String, from: Int, until: Int): String = {
    var h = 0x811c9dc5
    var i = from
    while (i < until) { h = (h ^ input.charAt(i)) * 0x01000193; i += 1 }
    val idx = (h ^ (h >>> 15)) & Mask
    val existing = slots(idx)
    val n = until - from
    if (existing != null && existing.length == n &&
        input.regionMatches(from, existing, 0, n)) existing
    else {
      val fresh = input.substring(from, until)
      slots(idx) = fresh
      fresh
    }
  }
}

private[core] object Tokenizer {
  /** Char-class tables for the whole-name scans (one array read replaces
    * the 6-10 compare chain per character): 0 = name char (continue),
    * 1 = stop char (name complete), 2 = bail to the per-char state arm
    * (uppercase, controls, CR, NUL, DEL/C1 — and for attrs the error chars
    * `"` `'` `<`). Chars ≥ 256 continue unless a surrogate (≥ 0xD800).
    */
  private def charClassTable(stops: String, extraBail: String): Array[Byte] = {
    val t = new Array[Byte](256)
    var i = 0
    while (i < 256) {
      t(i) =
        if (stops.indexOf(i) >= 0) 1
        else if ((i >= 'A' && i <= 'Z') || i < 0x20 ||
          (i >= 0x7f && i <= 0x9f) || extraBail.indexOf(i) >= 0) 2
        else 0
      i += 1
    }
    t
  }

  val TagNameCharClass: Array[Byte] = charClassTable("\t\n\f />", "")
  val AttrNameCharClass: Array[Byte] = charClassTable("\t\n\f />=", "\"'<")
}

final class Tokenizer(input: String, sink: TokenSink) {
  import TokenizerState._

  private val len = input.length
  private var pos = 0
  private var curStart = 0 // offset of the char returned by the last read()
  private final val EOF = -1

  var state: Int = Data
  var lastStartTagName: String = ""

  // --- character accumulation (homogeneous runs: ws vs other) ---
  // The pending run is a hybrid: a clean TAIL SLICE of the input
  // [pendFrom, pendTo) plus an optional dirty prefix in charBuf (entity
  // decodes, CR normalization, re-emitted chars). Logical content is
  // charBuf ++ input.substring(pendFrom, pendTo). The common all-clean case
  // flushes as a range callback with ZERO string materialization — per-word
  // run strings dominated the tokenizer's allocation profile.
  private val charBuf = new StringBuilder(64)
  private var pendFrom = -1
  private var pendTo = -1
  private var charStart = -1
  private var charEnd = -1
  private var charIsWs = false

  private def pendingNonEmpty: Boolean = pendFrom >= 0 || charBuf.nonEmpty

  private def spillSlice(): Unit =
    if (pendFrom >= 0) {
      charBuf.underlying.append(input, pendFrom, pendTo)
      pendFrom = -1; pendTo = -1
    }

  /** Append one (possibly synthetic or normalized) char to the pending run. */
  private def appendPendingChar(c: Char): Unit = {
    if (pendFrom >= 0 && pendTo == curStart && curStart < len &&
        input.charAt(curStart) == c) pendTo = curStart + 1
    else if (pendFrom < 0 && curStart < len && input.charAt(curStart) == c) {
      pendFrom = curStart; pendTo = curStart + 1
    } else {
      spillSlice()
      charBuf.append(c)
    }
  }

  /** Append a clean input slice [from, until) to the pending run. */
  private def appendPendingSlice(from: Int, until: Int): Unit = {
    if (until <= from) return
    if (pendFrom >= 0 && pendTo == from) pendTo = until
    else {
      spillSlice()
      pendFrom = from; pendTo = until
    }
  }
  // parse5 `currentLocation` mirror: a NEW character run starts at this
  // anchor — the position just past the last emitted token, or the cursor
  // position of the most recent class-change flush — NOT at the char's own
  // position. The two differ when dropped constructs (`</>`; partial tags
  // at EOF; CDATA brackets) sit between the run's anchor and its first
  // char (tokenizer/index.js:317-321,363-365,448-450).
  private var runAnchor = 0

  // --- current tag / comment / doctype work state ---
  private var tag: TagToken = null
  private val nameBuf = new StringBuilder(16)
  private var attrNameBuf = new StringBuilder(16)
  private val attrValueBuf = new StringBuilder(32)
  private var attrStart = 0
  private var attrSkip = false
  private val commentBuf = new StringBuilder(32)
  private var tokenStart = 0 // '<' or '<!--' start offset
  private var doctype: DoctypeTok = null
  private val tempBuf = new StringBuilder(16)

  private def isWsChar(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f'

  private def isAsciiAlpha(c: Int): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private def isAsciiAlnum(c: Int): Boolean =
    isAsciiAlpha(c) || (c >= '0' && c <= '9')

  private def toLower(c: Int): Char =
    if (c >= 'A' && c <= 'Z') (c + 0x20).toChar else c.toChar

  /** Read the next input character (CRLF/CR normalized to LF), EOF = -1. */
  private def read(): Int = {
    if (pos >= len) { curStart = pos; return EOF }
    curStart = pos
    val c = input.charAt(pos)
    pos += 1
    if (c == '\r') {
      // parse5's preprocessor returns LF for CR without input validation
      if (pos < len && input.charAt(pos) == '\n') pos += 1
      '\n'.toInt
    } else {
      if ((c < 0x20 && c != 0x09 && c != 0x0a) || c >= 0x7f)
        validateInputCharAt(c, curStart)
      c.toInt
    }
  }

  // --- input-stream validation (parse5 preprocessor, per consumed char) ---
  private var lastInputErrOffset = -1

  private def inputErr(code: String, at: Int): Unit =
    if (at != lastInputErrOffset) {
      lastInputErrOffset = at
      sink.onParseError(code, at, at)
    }

  /** parse5 preprocessor _checkForProblematicCharacters: every consumed
    * code point is validated once — controls (C0 minus whitespace, DEL/C1)
    * and noncharacters err with a zero-length span at the char; lone
    * surrogates err surrogate-in-input-stream; a valid surrogate PAIR is
    * validated as its combined code point at the TRAIL unit's offset.
    */
  private def validateInputCharAt(c: Char, at: Int): Unit = {
    if (c >= 0xd800 && c <= 0xdfff) {
      if (c < 0xdc00) {
        val hasTrail = at + 1 < len && {
          val t = input.charAt(at + 1); t >= 0xdc00 && t <= 0xdfff
        }
        if (hasTrail) {
          val cp = 0x10000 + ((c - 0xd800) << 10) + (input.charAt(at + 1) - 0xdc00)
          if ((cp & 0xfffe) == 0xfffe) inputErr("noncharacter-in-input-stream", at + 1)
        } else inputErr("surrogate-in-input-stream", at)
      } else {
        val prevIsLead = at > 0 && {
          val pc = input.charAt(at - 1); pc >= 0xd800 && pc < 0xdc00
        }
        if (!prevIsLead) inputErr("surrogate-in-input-stream", at)
      }
    } else if ((c >= 0x01 && c <= 0x1f && c != 0x09 && c != 0x0a && c != 0x0c &&
        c != 0x0d) || (c >= 0x7f && c <= 0x9f))
      inputErr("control-character-in-input-stream", at)
    else if ((c >= 0xfdd0 && c <= 0xfdef) || (c & 0xfffe) == 0xfffe)
      inputErr("noncharacter-in-input-stream", at)
  }

  private def reconsume(): Unit = { pos = curStart }

  /** parse5 tokenizer errors are ZERO-LENGTH spans at the preprocessor's
    * current offset — the code point being consumed (preprocessor getError:
    * start == end == offset + cpOffset). Parser-level errors keep full
    * token spans; only the tokenizer collapses to a point.
    */
  private def err(code: String): Unit = sink.onParseError(code, curStart, curStart)

  /** Zero-length tokenizer error at an explicit offset (entity errors fire
    * at the position just past the consumed reference). */
  private def errAt(code: String, at: Int): Unit = sink.onParseError(code, at, at)

  // Entity errors other than absence-of-digits fire AFTER the decoded code
  // points are appended (parse5 emitNumericEntity / ambiguous-ampersand:
  // emit first, then missing-semicolon, then validation) — the append can
  // flush a pending NULL/char token whose parser-side errors must precede
  // the entity's own. Up to two can defer (missing-semicolon + validation).
  private var entErr1Code: String = null
  private var entErr1At = 0
  private var entErr2Code: String = null
  private var entErr2At = 0

  private def deferEntErr(code: String, at: Int): Unit =
    if (entErr1Code == null) { entErr1Code = code; entErr1At = at }
    else { entErr2Code = code; entErr2At = at }

  private def fireEntErrs(): Unit = {
    if (entErr1Code != null) { errAt(entErr1Code, entErr1At); entErr1Code = null }
    if (entErr2Code != null) { errAt(entErr2Code, entErr2At); entErr2Code = null }
  }

  // --- char run emission ---
  // pending NULL run (parse5 batches consecutive NULs into one
  // NULL_CHARACTER token that stays pending across dropped constructs)
  private var nullStart = -1
  private var nullCount = 0

  private def flushNullRun(endAt: Int): Unit = {
    if (nullStart >= 0) {
      sink.onNull(nullStart, endAt, nullCount)
      nullStart = -1
      nullCount = 0
      runAnchor = endAt
    }
  }

  private def emitChar(c: Char): Unit = {
    if (c == '\u0000') {
      if (pendingNonEmpty) { charEnd = curStart; flushChars(); runAnchor = curStart }
      // the NULL token starts at the anchor, like any new pending token
      if (nullStart < 0) nullStart = runAnchor
      nullCount += 1
      return
    }
    flushNullRun(curStart)
    val ws = isWsChar(c)
    if (charStart < 0) { charStart = runAnchor; charIsWs = ws }
    else if (ws != charIsWs) {
      // parse5 rewrites the pending token's end to the flush cursor — for a
      // re-emitted '<' the cursor sits on the char AFTER it, covering the gap
      charEnd = curStart
      flushChars()
      runAnchor = curStart
      charStart = curStart
      charIsWs = ws
    }
    appendPendingChar(c)
    charEnd = pos
  }

  /** Append decoded character-reference text (may mix classes).
    * parse5 rewinds the cursor to the LAST consumed character of the
    * reference before flushing the decoded code points (tokenizer
    * entityDecoder callback: `pos = entityStartPos + consumed - 1`), so a
    * run STARTING with an entity starts at srcEnd-1 and a class-change
    * flush triggered by a decoded char ends the previous run there.
    */
  private def emitDecoded(s: String, srcEnd: Int): Unit = {
    val at = srcEnd - 1
    flushNullRun(at)
    spillSlice() // decoded text dirties the pending run
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val ws = isWsChar(c)
      if (charStart < 0) { charStart = runAnchor; charIsWs = ws }
      else if (ws != charIsWs) {
        charEnd = at
        flushChars()
        runAnchor = at
        charStart = at
        charIsWs = ws
      }
      charBuf.append(c)
      i += 1
    }
    charEnd = srcEnd
  }

  private def flushChars(): Unit = {
    if (charBuf.isEmpty && pendFrom >= 0) {
      // all-clean run: hand the slice straight to the sink, no String
      if (charIsWs) sink.onWhitespaceRange(input, pendFrom, pendTo, charStart, charEnd)
      else sink.onCharsRange(input, pendFrom, pendTo, charStart, charEnd)
      pendFrom = -1; pendTo = -1
    } else if (pendingNonEmpty) {
      spillSlice()
      val data = charBuf.toString
      if (charIsWs) sink.onWhitespace(data, charStart, charEnd)
      else sink.onChars(data, charStart, charEnd)
      charBuf.clear()
    }
    charStart = -1
    charEnd = -1
  }

  /** Fast path for the text states: after one ordinary character was
    * emitted, bulk-append the following run of plain chars of the SAME
    * whitespace class (run segmentation is per ws-class, see emitChar),
    * stopping at '&' (when the state decodes refs), '<' (when the state
    * opens tags), NUL, '\r' (needs normalization) and EOF. Byte-identical
    * to the per-char loop; removes per-char dispatch from the hot path.
    */
  private def bulkPlainRun(stopAmp: Boolean, stopLt: Boolean): Unit = {
    // multi-run scan: at a whitespace-class boundary the pending run is
    // flushed here (identical to the emitChar class-change path) and the
    // scan continues, so word-segmented text costs one state-machine entry
    // per TEXT BLOCK instead of one per word
    var cls = charIsWs
    var from = pos
    var p = pos
    while (p < len) {
      val ch = input.charAt(p)
      if (((ch - 0x20) & 0xffff) >= 0x5f && ch != 0x09 && ch != 0x0a)
        validateInputCharAt(ch, p)
      if ((stopAmp && ch == '&') || (stopLt && ch == '<') ||
          ch == '\u0000' || ch == '\r') {
        appendPendingSlice(from, p); pos = p; charEnd = p
        return
      } else if (isWsChar(ch) != cls) {
        appendPendingSlice(from, p)
        pos = p; charEnd = p
        flushChars()
        cls = !cls
        runAnchor = p
        charStart = p
        charIsWs = cls
        from = p
        p += 1
      } else p += 1
    }
    appendPendingSlice(from, p); pos = p; charEnd = p
  }

  /** Bulk-append a run of ordinary chars into `buf`, lowercasing if asked.
    * Stops BEFORE any char whose bit is set in the (m0, m1) ASCII stop mask
    * (which always includes NUL and CR) or, when `lower`, an ASCII
    * uppercase letter (handled by the per-char path); non-ASCII chars never
    * stop. Shares exact semantics with the per-char state loops; the
    * bitmask replaces a per-char String.indexOf scan.
    */
  private def bulkInto(buf: StringBuilder, m0: Long, m1: Long, lower: Boolean): Unit = {
    val from = pos
    var p = pos
    while (p < len) {
      val ch = input.charAt(p)
      if (((ch - 0x20) & 0xffff) >= 0x5f && ch != 0x09 && ch != 0x0a)
        validateInputCharAt(ch, p)
      if ((ch < 64 && ((m0 >>> ch) & 1L) != 0) ||
          (ch >= 64 && ch < 128 && ((m1 >>> (ch - 64)) & 1L) != 0) ||
          (lower && ch >= 'A' && ch <= 'Z')) {
        buf.underlying.append(input, from, p); pos = p; return
      }
      p += 1
    }
    buf.underlying.append(input, from, p); pos = p
  }

  private def stopMask(chars: String): (Long, Long) = {
    var m0 = (1L << 0) | (1L << 13) // NUL and CR always stop
    var m1 = 0L
    chars.foreach { c =>
      require(c < 128)
      if (c < 64) m0 |= 1L << c else m1 |= 1L << (c - 64)
    }
    (m0, m1)
  }

  private val TagNameStops = stopMask("\t\n\f />")
  private val AttrNameStops = stopMask("\t\n\f />=\"'<")
  private val AttrValDqStops = stopMask("\"&")
  private val AttrValSqStops = stopMask("'&")
  private val AttrValUqStops = stopMask("\t\n\f &>\"'<=`")

  // --- tag helpers ---
  private var fastTagName: String = null

  // one reused token per parse: sinks consume tags synchronously and copy
  // what they retain (TokenSink contract), so per-tag allocation is waste
  private val reusableTag = new TagToken

  private def startTag(isEnd: Boolean): Unit = {
    tag = reusableTag
    tag.reset(isEnd, tokenStart)
    nameBuf.clear()
    fastTagName = null
  }

  // one-entry repeat caches in front of the global interner: tag names
  // repeat consecutively (</li><li>, </td><td>) and attr names repeat
  // across sibling elements (class=, href=), so most lookups shortcut to a
  // single regionMatches without hashing (lookup was the top self-time
  // frame once the dispatch compiled)
  private var lastTagName: String = null
  private var lastAttrNameCache: String = null

  /** The one whole-name scan, called with `pos` at the first name
    * character: when the whole name ends at a stop char of `tbl`, returns
    * it interned (`cached`, the caller's repeat cache, when it matches) and
    * leaves `pos` at the stop char. A bail char of `tbl`, a surrogate or EOF
    * returns null with `pos` untouched, for the per-char states.
    */
  private def scanName(tbl: Array[Byte], cached: String): String = {
    var p = pos
    while (p < len) {
      val ch = input.charAt(p)
      if (ch < 256) {
        val cls = tbl(ch)
        if (cls != 0) {
          if (cls == 2) return null
          val name =
            if (cached != null && cached.length == p - pos &&
                input.regionMatches(pos, cached, 0, p - pos)) cached
            else TagNameInterner.lookup(input, pos, p)
          pos = p
          return name
        }
      } else if (ch >= 0xd800) return null
      p += 1
    }
    null
  }

  /** Tag names stop at ws / '/' / '>'. */
  private def fastScanTagName(): Unit = {
    fastTagName = scanName(Tokenizer.TagNameCharClass, lastTagName)
    if (fastTagName != null) lastTagName = fastTagName
  }

  /** Fused Data-state '<' handling: the overwhelmingly common shapes
    * `<name…` and `</name…` go straight to the whole-name scan and, when it
    * succeeds, straight to the stop-char dispatch — skipping the TagOpen,
    * EndTagOpen and TagName state entries (three run-loop dispatches and
    * reads per tag). Byte-identical to the per-state path: the fused arms
    * replicate exactly what TagOpen/EndTagOpen do for an ASCII-alpha
    * lookahead (startTag + reconsumed name scan), and a successful
    * `fastScanTagName` guarantees the next char is one of `\t\n\f / >` or a
    * space, which is precisely the TagName dispatch below. Anything else
    * ('!', '?', EOF, non-alpha, uppercase/CR/NUL names) falls back to the
    * regular states untouched.
    */
  private def fusedTagOpen(): Unit = {
    if (pos < len) {
      val n = input.charAt(pos)
      if (isAsciiAlpha(n)) {
        startTag(isEnd = false)
        fastScanTagName()
      } else if (n == '/' && pos + 1 < len && isAsciiAlpha(input.charAt(pos + 1))) {
        pos += 1
        startTag(isEnd = true)
        fastScanTagName()
      } else { state = TagOpen; return }
    } else { state = TagOpen; return }
    if (fastTagName != null) {
      // pos sits on the guaranteed stop char; dispatch it without another
      // run-loop iteration (mirrors the TagName arms for these chars)
      curStart = pos
      val s = input.charAt(pos)
      pos += 1
      if (s == '>') { state = Data; emitTag() }
      else if (s == '/') state = SelfClosingStartTag
      else state = BeforeAttrName
    } else state = TagName
  }

  private var fastAttrName: String = null

  /** Attribute names stop at ws / '/' / '>' / '='; the error chars '"' '\''
    * '<' bail to the per-char arm.
    */
  private def fastScanAttrName(): Unit = {
    fastAttrName = scanName(Tokenizer.AttrNameCharClass, lastAttrNameCache)
    if (fastAttrName != null) lastAttrNameCache = fastAttrName
  }

  private def finishAttrName(): Unit = {
    val n = if (fastAttrName != null) fastAttrName else attrNameBuf.toString
    fastAttrName = null
    attrSkip = false
    if (!tag.addAttrIfNew(n, attrStart, pos - 1)) {
      err("duplicate-attribute")
      attrSkip = true
    }
    attrValueBuf.clear()
  }

  /** Store the pending value on the current attribute. The attribute's end
    * offset is NOT touched here: parse5 updates it only on a CLEAN exit of
    * the value ([after-]attribute-value states seeing ws/'/'/'>', mirrored
    * by leaveAttrValue) — malformed exits (missing whitespace between
    * attributes, missing attribute value, EOF) leave the end where
    * _leaveAttrName put it, at the character that terminated the name.
    */
  private def finishAttrValue(): Unit = {
    if (tag.attrs.nonEmpty && !attrSkip) {
      val a = tag.attrs(tag.attrs.length - 1)
      a.value = attrValueBuf.toString
    }
    attrValueBuf.clear()
  }

  /** parse5 _leaveAttrValue: attr end = the cursor's current offset. */
  private def leaveAttrValue(): Unit = {
    if (tag.attrs.nonEmpty && !attrSkip) tag.attrs(tag.attrs.length - 1).end = curStart
  }

  private def emitTag(): Unit = {
    tag.name = if (fastTagName != null) fastTagName else nameBuf.toString
    tag.end = pos
    // parse5 prepareToken: the pending character token's end is rewritten to
    // the emitted token's START (covers dropped constructs in between)
    flushNullRun(tag.start)
    if (pendingNonEmpty) charEnd = tag.start
    flushChars()
    runAnchor = pos
    if (tag.isEnd) {
      if (tag.attrs.nonEmpty) err("end-tag-with-attributes")
      if (tag.selfClosing) err("end-tag-with-trailing-solidus")
      sink.onEndTag(tag)
    } else {
      lastStartTagName = tag.name
      sink.onStartTag(tag)
    }
    tag = null
  }

  private def emitComment(): Unit = {
    flushNullRun(tokenStart)
    if (pendingNonEmpty) charEnd = tokenStart
    flushChars()
    runAnchor = pos
    sink.onComment(commentBuf.toString, tokenStart, pos)
    commentBuf.clear()
  }

  private def emitDoctype(): Unit = {
    doctype.end = pos
    flushNullRun(doctype.start)
    if (pendingNonEmpty) charEnd = doctype.start
    flushChars()
    runAnchor = pos
    sink.onDoctype(doctype)
    doctype = null
  }

  private def emitEof(): Unit = {
    // parse5 overwrites the pending character token's end location with the
    // EOF token's (= input length), so text truncated by a discarded partial
    // construct at EOF spans through it (tokenizer _emitEOFToken +
    // _emitCurrentCharacterToken end-rewrite)
    flushNullRun(len)
    if (pendingNonEmpty) charEnd = len
    flushChars()
    sink.onEof(len)
  }

  private def isAppropriateEndTag: Boolean =
    nameBuf.toString == lastStartTagName

  // --- character references (spec §13.2.5.72-80, resolved inline) ---
  /** '&' has been consumed (curStart at '&'). Returns decoded text to emit
    * plus consumes the reference from input, or returns null meaning: emit
    * '&' literally and consume nothing further.
    */
  private def consumeCharRef(inAttribute: Boolean): String = {
    if (pos >= len) return null
    val c0 = input.charAt(pos)
    if (c0 == '#') {
      var p = pos + 1
      var hex = false
      if (p < len && (input.charAt(p) == 'x' || input.charAt(p) == 'X')) {
        hex = true; p += 1
      }
      var value = 0
      var digits = 0
      var loop = true
      while (loop && p < len) {
        val d = input.charAt(p)
        val dv =
          if (d >= '0' && d <= '9') d - '0'
          else if (hex && d >= 'a' && d <= 'f') d - 'a' + 10
          else if (hex && d >= 'A' && d <= 'F') d - 'A' + 10
          else -1
        if (dv < 0) loop = false
        else {
          if (value < 0x110000) value = value * (if (hex) 16 else 10) + dv
          digits += 1
          p += 1
        }
      }
      if (digits == 0) {
        // parse5: error lands just past the consumed '&#'/'&#x' prefix
        errAt("absence-of-digits-in-numeric-character-reference", p)
        return null
      }
      val hasSemi = p < len && input.charAt(p) == ';'
      if (hasSemi) p += 1
      pos = p
      // parse5 emitNumericEntity order: emit, then missing-semicolon, then
      // numeric validation — all at the position past the full reference
      if (!hasSemi) deferEntErr("missing-semicolon-after-character-reference", p)
      val verr =
        if (value == 0) "null-character-reference"
        else if (value > 0x10FFFF) "character-reference-outside-unicode-range"
        else if (value >= 0xD800 && value <= 0xDFFF) "surrogate-character-reference"
        else if ((value >= 0xFDD0 && value <= 0xFDEF) || (value & 0xFFFE) == 0xFFFE)
          "noncharacter-character-reference"
        else if ((value >= 0x01 && value <= 0x1F && value != 0x09 && value != 0x0A &&
            value != 0x0C) || (value >= 0x7F && value <= 0x9F))
          "control-character-reference"
        else null
      if (verr != null) deferEntErr(verr, p)
      val cp = Entities.replaceNumeric(value)
      if (cp > 0xffff) {
        val v = cp - 0x10000
        new String(Array((0xd800 | (v >>> 10)).toChar, (0xdc00 | (v & 0x3ff)).toChar))
      } else String.valueOf(cp.toChar)
    } else if (isAsciiAlnum(c0)) {
      val m = Entities.matchNamedPacked(input, pos)
      if (m < 0L) {
        // spec ambiguous-ampersand state (parse5 enters it only OUTSIDE
        // attribute values): a maximal alphanumeric run terminated by ';'
        // that matches nothing errs unknown-named-character-reference at
        // the ';'
        if (!inAttribute) {
          var q = pos
          while (q < len && isAsciiAlnum(input.charAt(q))) q += 1
          if (q > pos && q < len && input.charAt(q) == ';')
            deferEntErr("unknown-named-character-reference", q)
        }
        return null
      }
      val nameLen = (m >>> 32).toInt
      val replacement = Entities.replacementAt((m & 0xffffffffL).toInt)
      val endsWithSemi = input.charAt(pos + nameLen - 1) == ';'
      if (!endsWithSemi && inAttribute) {
        val next = if (pos + nameLen < len) input.charAt(pos + nameLen) else ' '
        if (next == '=' || isAsciiAlnum(next)) return null
      }
      if (!endsWithSemi)
        deferEntErr("missing-semicolon-after-character-reference", pos + nameLen)
      pos += nameLen
      replacement
    } else null
  }

  private def dataCharRef(): Unit = {
    val decoded = consumeCharRef(inAttribute = false)
    if (decoded == null) emitChar('&')
    else emitDecoded(decoded, pos)
    fireEntErrs()
  }

  private def attrCharRef(): Unit = {
    val decoded = consumeCharRef(inAttribute = true)
    if (decoded == null) attrValueBuf.append('&')
    else attrValueBuf.append(decoded)
    fireEntErrs()
  }

  /** Case-insensitive lookahead match that consumes on success. */
  private def lookaheadIgnoreCase(word: String): Boolean = {
    if (pos + word.length > len) return false
    var i = 0
    while (i < word.length) {
      if (toLower(input.charAt(pos + i)) != word.charAt(i)) return false
      i += 1
    }
    pos += word.length
    true
  }

  private def lookaheadExact(word: String): Boolean = {
    if (pos + word.length > len) return false
    var i = 0
    while (i < word.length) {
      if (input.charAt(pos + i) != word.charAt(i)) return false
      i += 1
    }
    pos += word.length
    true
  }

  // ------------------------------------------------------------------
  /** Main loop. The 73-state machine is split into six group methods over
    * contiguous state ranges because a single match compiled to ~9.6KB of
    * bytecode — past HotSpot's HugeMethodLimit (8000 bytes), so the whole
    * dispatch ran INTERPRETED. Grouped, every method is JIT-compiled. The
    * split is pure code motion: arms are verbatim, each group returns the
    * old `running` flag.
    */
  def run(): Unit = {
    var running = true
    while (running) {
      val s = state
      running =
        if (s <= TagName) stepDataTag(s)
        else if (s <= ScriptDataDoubleEscapeEnd) stepTextModes(s)
        else if (s <= SelfClosingStartTag) stepAttrs(s)
        else if (s <= CommentEndBang) stepComments(s)
        else if (s <= BogusDoctype) stepDoctype(s)
        else stepCdata(s)
    }
  }

  // ---------------- Data / RCDATA / RAWTEXT / script / plaintext ----
  private def stepDataTag(s: Int): Boolean = {
    var running = true
    s match {
        case Data =>
          val c = read()
          c match {
            case '&' => dataCharRef()
            case '<' => tokenStart = curStart; fusedTagOpen()
            case 0   => err("unexpected-null-character"); emitChar('\u0000')
            case EOF => emitEof(); running = false
            case _   => emitChar(c.toChar); bulkPlainRun(stopAmp = true, stopLt = true)
          }

        case Rcdata =>
          val c = read()
          c match {
            case '&' => dataCharRef()
            case '<' => tokenStart = curStart; state = RcdataLessThan
            case 0   => err("unexpected-null-character"); emitChar('�')
            case EOF => emitEof(); running = false
            case _   => emitChar(c.toChar); bulkPlainRun(stopAmp = true, stopLt = true)
          }

        case Rawtext =>
          val c = read()
          c match {
            case '<' => tokenStart = curStart; state = RawtextLessThan
            case 0   => err("unexpected-null-character"); emitChar('�')
            case EOF => emitEof(); running = false
            case _   => emitChar(c.toChar); bulkPlainRun(stopAmp = false, stopLt = true)
          }

        case ScriptData =>
          val c = read()
          c match {
            case '<' => tokenStart = curStart; state = ScriptDataLessThan
            case 0   => err("unexpected-null-character"); emitChar('�')
            case EOF => emitEof(); running = false
            case _   => emitChar(c.toChar); bulkPlainRun(stopAmp = false, stopLt = true)
          }

        case Plaintext =>
          val c = read()
          c match {
            case 0   => err("unexpected-null-character"); emitChar('�')
            case EOF => emitEof(); running = false
            case _   => emitChar(c.toChar); bulkPlainRun(stopAmp = false, stopLt = false)
          }

        // ---------------- tag open ----------------
        case TagOpen =>
          val c = read()
          if (c == '!') state = MarkupDeclarationOpen
          else if (c == '/') state = EndTagOpen
          else if (isAsciiAlpha(c)) {
            startTag(isEnd = false); reconsume(); fastScanTagName(); state = TagName
          } else if (c == '?') {
            err("unexpected-question-mark-instead-of-tag-name")
            commentBuf.clear(); reconsume(); state = BogusComment
          } else if (c == EOF) {
            err("eof-before-tag-name")
            emitChar('<')
            emitEof(); running = false
          } else {
            err("invalid-first-character-of-tag-name")
            // emit '<' at its original position, then reprocess in data
            emitChar('<')
            reconsume(); state = Data
          }

        case EndTagOpen =>
          val c = read()
          if (isAsciiAlpha(c)) {
            startTag(isEnd = true); reconsume(); fastScanTagName(); state = TagName
          } else if (c == '>') {
            err("missing-end-tag-name"); state = Data
          } else if (c == EOF) {
            err("eof-before-tag-name")
            emitChar('<'); emitChar('/')
            emitEof(); running = false
          } else {
            err("invalid-first-character-of-tag-name")
            commentBuf.clear(); reconsume(); state = BogusComment
          }

        case TagName =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' => state = BeforeAttrName
            case '/'                      => state = SelfClosingStartTag
            case '>'                      => state = Data; emitTag()
            case 0 =>
              err("unexpected-null-character"); nameBuf.append('�')
            case EOF => err("eof-in-tag"); emitEof(); running = false
            case _   => nameBuf.append(toLower(c)); bulkInto(nameBuf, TagNameStops._1, TagNameStops._2, lower = true)
          }

        case other =>
          throw new IllegalStateException(s"unhandled tokenizer state $other")
    }
    running
  }

  // ---------------- RCDATA/RAWTEXT/script-data end tags + script escapes --
  private def stepTextModes(s: Int): Boolean = {
    var running = true
    s match {
        case RcdataLessThan =>
          val c = read()
          if (c == '/') { tempBuf.clear(); state = RcdataEndTagOpen }
          else {
            emitChar('<')
            reconsume(); state = Rcdata
          }

        case RcdataEndTagOpen =>
          val c = read()
          if (isAsciiAlpha(c)) {
            startTag(isEnd = true); reconsume(); state = RcdataEndTagName
          } else {
            emitChar('<'); emitChar('/')
            reconsume(); state = Rcdata
          }

        case RcdataEndTagName =>
          handleTextEndTagName(Rcdata)

        case RawtextLessThan =>
          val c = read()
          if (c == '/') { tempBuf.clear(); state = RawtextEndTagOpen }
          else {
            emitChar('<')
            reconsume(); state = Rawtext
          }

        case RawtextEndTagOpen =>
          val c = read()
          if (isAsciiAlpha(c)) {
            startTag(isEnd = true); reconsume(); state = RawtextEndTagName
          } else {
            emitChar('<'); emitChar('/')
            reconsume(); state = Rawtext
          }

        case RawtextEndTagName =>
          handleTextEndTagName(Rawtext)

        case ScriptDataLessThan =>
          val c = read()
          if (c == '/') { tempBuf.clear(); state = ScriptDataEndTagOpen }
          else if (c == '!') {
            state = ScriptDataEscapeStart
            emitChar('<')
            emitChar('!')
          } else {
            emitChar('<')
            reconsume(); state = ScriptData
          }

        case ScriptDataEndTagOpen =>
          val c = read()
          if (isAsciiAlpha(c)) {
            startTag(isEnd = true); reconsume(); state = ScriptDataEndTagName
          } else {
            emitChar('<'); emitChar('/')
            reconsume(); state = ScriptData
          }

        case ScriptDataEndTagName =>
          handleTextEndTagName(ScriptData)

        case ScriptDataEscapeStart =>
          val c = read()
          if (c == '-') { emitChar('-'); state = ScriptDataEscapeStartDash }
          else { reconsume(); state = ScriptData }

        case ScriptDataEscapeStartDash =>
          val c = read()
          if (c == '-') { emitChar('-'); state = ScriptDataEscapedDashDash }
          else { reconsume(); state = ScriptData }

        case ScriptDataEscaped =>
          val c = read()
          c match {
            case '-' => emitChar('-'); state = ScriptDataEscapedDash
            case '<' => tokenStart = curStart; state = ScriptDataEscapedLessThan
            case 0   => err("unexpected-null-character"); emitChar('�')
            case EOF =>
              err("eof-in-script-html-comment-like-text"); emitEof(); running = false
            case _ => emitChar(c.toChar)
          }

        case ScriptDataEscapedDash =>
          val c = read()
          c match {
            case '-' => emitChar('-'); state = ScriptDataEscapedDashDash
            case '<' => tokenStart = curStart; state = ScriptDataEscapedLessThan
            case 0 =>
              err("unexpected-null-character"); emitChar('�')
              state = ScriptDataEscaped
            case EOF =>
              err("eof-in-script-html-comment-like-text"); emitEof(); running = false
            case _ => emitChar(c.toChar); state = ScriptDataEscaped
          }

        case ScriptDataEscapedDashDash =>
          val c = read()
          c match {
            case '-' => emitChar('-')
            case '<' => tokenStart = curStart; state = ScriptDataEscapedLessThan
            case '>' => emitChar('>'); state = ScriptData
            case 0 =>
              err("unexpected-null-character"); emitChar('�')
              state = ScriptDataEscaped
            case EOF =>
              err("eof-in-script-html-comment-like-text"); emitEof(); running = false
            case _ => emitChar(c.toChar); state = ScriptDataEscaped
          }

        case ScriptDataEscapedLessThan =>
          val c = read()
          if (c == '/') { tempBuf.clear(); state = ScriptDataEscapedEndTagOpen }
          else if (isAsciiAlpha(c)) {
            tempBuf.clear()
            emitChar('<')
            reconsume(); state = ScriptDataDoubleEscapeStart
          } else {
            emitChar('<')
            reconsume(); state = ScriptDataEscaped
          }

        case ScriptDataEscapedEndTagOpen =>
          val c = read()
          if (isAsciiAlpha(c)) {
            startTag(isEnd = true); reconsume(); state = ScriptDataEscapedEndTagName
          } else {
            emitChar('<'); emitChar('/')
            reconsume(); state = ScriptDataEscaped
          }

        case ScriptDataEscapedEndTagName =>
          handleTextEndTagName(ScriptDataEscaped)

        case ScriptDataDoubleEscapeStart =>
          val c = read()
          if (c == '\t' || c == '\n' || c == '\f' || c == ' ' || c == '/' || c == '>') {
            state =
              if (tempBuf.toString == "script") ScriptDataDoubleEscaped
              else ScriptDataEscaped
            emitChar(c.toChar)
          } else if (isAsciiAlpha(c)) {
            tempBuf.append(toLower(c)); emitChar(c.toChar)
          } else { reconsume(); state = ScriptDataEscaped }

        case ScriptDataDoubleEscaped =>
          val c = read()
          c match {
            case '-' => emitChar('-'); state = ScriptDataDoubleEscapedDash
            case '<' =>
              emitChar('<'); state = ScriptDataDoubleEscapedLessThan
            case 0 => err("unexpected-null-character"); emitChar('�')
            case EOF =>
              err("eof-in-script-html-comment-like-text"); emitEof(); running = false
            case _ => emitChar(c.toChar)
          }

        case ScriptDataDoubleEscapedDash =>
          val c = read()
          c match {
            case '-' => emitChar('-'); state = ScriptDataDoubleEscapedDashDash
            case '<' =>
              emitChar('<'); state = ScriptDataDoubleEscapedLessThan
            case 0 =>
              err("unexpected-null-character"); emitChar('�')
              state = ScriptDataDoubleEscaped
            case EOF =>
              err("eof-in-script-html-comment-like-text"); emitEof(); running = false
            case _ => emitChar(c.toChar); state = ScriptDataDoubleEscaped
          }

        case ScriptDataDoubleEscapedDashDash =>
          val c = read()
          c match {
            case '-' => emitChar('-')
            case '<' =>
              emitChar('<'); state = ScriptDataDoubleEscapedLessThan
            case '>' => emitChar('>'); state = ScriptData
            case 0 =>
              err("unexpected-null-character"); emitChar('�')
              state = ScriptDataDoubleEscaped
            case EOF =>
              err("eof-in-script-html-comment-like-text"); emitEof(); running = false
            case _ => emitChar(c.toChar); state = ScriptDataDoubleEscaped
          }

        case ScriptDataDoubleEscapedLessThan =>
          val c = read()
          if (c == '/') {
            tempBuf.clear(); emitChar('/'); state = ScriptDataDoubleEscapeEnd
          } else { reconsume(); state = ScriptDataDoubleEscaped }

        case ScriptDataDoubleEscapeEnd =>
          val c = read()
          if (c == '\t' || c == '\n' || c == '\f' || c == ' ' || c == '/' || c == '>') {
            state =
              if (tempBuf.toString == "script") ScriptDataEscaped
              else ScriptDataDoubleEscaped
            emitChar(c.toChar)
          } else if (isAsciiAlpha(c)) {
            tempBuf.append(toLower(c)); emitChar(c.toChar)
          } else { reconsume(); state = ScriptDataDoubleEscaped }

        case other =>
          throw new IllegalStateException(s"unhandled tokenizer state $other")
    }
    running
  }

  // ---------------- attributes ----------------
  private def stepAttrs(s: Int): Boolean = {
    var running = true
    s match {
        case BeforeAttrName =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' => // skip
            case '/' | '>' | EOF          => reconsume(); state = AfterAttrName
            case '=' =>
              err("unexpected-equals-sign-before-attribute-name")
              attrNameBuf = new StringBuilder(16)
              attrNameBuf.append('=')
              attrStart = curStart
              state = AttrName
            case _ =>
              attrNameBuf = new StringBuilder(16)
              attrStart = curStart
              reconsume(); fastScanAttrName(); state = AttrName
          }

        case AttrName =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' | '/' | '>' | EOF =>
              finishAttrName(); reconsume(); state = AfterAttrName
            case '=' => finishAttrName(); state = BeforeAttrValue
            case 0 =>
              err("unexpected-null-character"); attrNameBuf.append('�')
            case '"' | '\'' | '<' =>
              err("unexpected-character-in-attribute-name")
              attrNameBuf.append(c.toChar)
            case _ =>
              attrNameBuf.append(toLower(c))
              bulkInto(attrNameBuf, AttrNameStops._1, AttrNameStops._2, lower = true)
          }

        case AfterAttrName =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' => // skip
            case '/'                      => state = SelfClosingStartTag
            case '='                      => state = BeforeAttrValue
            case '>'                      => state = Data; emitTag()
            case EOF => err("eof-in-tag"); emitEof(); running = false
            case _ =>
              attrNameBuf = new StringBuilder(16)
              attrStart = curStart
              reconsume(); fastScanAttrName(); state = AttrName
          }

        case BeforeAttrValue =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' => // skip
            case '"'                      => state = AttrValueDouble
            case '\''                     => state = AttrValueSingle
            case '>' =>
              err("missing-attribute-value")
              finishAttrValue()
              state = Data; emitTag()
            case _ => reconsume(); state = AttrValueUnquoted
          }

        case AttrValueDouble =>
          val c = read()
          c match {
            case '"' => finishAttrValue(); state = AfterAttrValueQuoted
            case '&' => attrCharRef()
            case 0 =>
              err("unexpected-null-character"); attrValueBuf.append('�')
            case EOF => err("eof-in-tag"); emitEof(); running = false
            case _   => attrValueBuf.append(c.toChar); bulkInto(attrValueBuf, AttrValDqStops._1, AttrValDqStops._2, lower = false)
          }

        case AttrValueSingle =>
          val c = read()
          c match {
            case '\'' => finishAttrValue(); state = AfterAttrValueQuoted
            case '&'  => attrCharRef()
            case 0 =>
              err("unexpected-null-character"); attrValueBuf.append('�')
            case EOF => err("eof-in-tag"); emitEof(); running = false
            case _   => attrValueBuf.append(c.toChar); bulkInto(attrValueBuf, AttrValSqStops._1, AttrValSqStops._2, lower = false)
          }

        case AttrValueUnquoted =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' =>
              finishAttrValue(); leaveAttrValue(); state = BeforeAttrName
            case '&' => attrCharRef()
            case '>' =>
              finishAttrValue(); leaveAttrValue(); state = Data; emitTag()
            case 0 =>
              err("unexpected-null-character"); attrValueBuf.append('�')
            case '"' | '\'' | '<' | '=' | '`' =>
              err("unexpected-character-in-unquoted-attribute-value")
              attrValueBuf.append(c.toChar)
            case EOF => err("eof-in-tag"); emitEof(); running = false
            case _   =>
              attrValueBuf.append(c.toChar)
              bulkInto(attrValueBuf, AttrValUqStops._1, AttrValUqStops._2, lower = false)
          }

        case AfterAttrValueQuoted =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' => leaveAttrValue(); state = BeforeAttrName
            case '/'                      => leaveAttrValue(); state = SelfClosingStartTag
            case '>'                      => leaveAttrValue(); state = Data; emitTag()
            case EOF => err("eof-in-tag"); emitEof(); running = false
            case _ =>
              err("missing-whitespace-between-attributes")
              reconsume(); state = BeforeAttrName
          }

        case SelfClosingStartTag =>
          val c = read()
          c match {
            case '>' =>
              tag.selfClosing = true; state = Data; emitTag()
            case EOF => err("eof-in-tag"); emitEof(); running = false
            case _ =>
              err("unexpected-solidus-in-tag")
              reconsume(); state = BeforeAttrName
          }

        case other =>
          throw new IllegalStateException(s"unhandled tokenizer state $other")
    }
    running
  }

  // ---------------- comments & markup declaration ----------------
  private def stepComments(s: Int): Boolean = {
    var running = true
    s match {
        case BogusComment =>
          val c = read()
          c match {
            case '>' => state = Data; emitComment()
            case EOF => emitComment(); emitEof(); running = false
            case 0 =>
              err("unexpected-null-character"); commentBuf.append('�')
            case _ => commentBuf.append(c.toChar)
          }

        case MarkupDeclarationOpen =>
          if (lookaheadExact("--")) {
            commentBuf.clear(); state = CommentStart
          } else if (lookaheadIgnoreCase("doctype")) {
            state = DoctypeState
          } else if (lookaheadExact("[CDATA[")) {
            if (sink.cdataAllowed) state = CdataSection
            else {
              // parse5 errs with the cursor ON the final '[' of '<![CDATA['
              errAt("cdata-in-html-content", pos - 1)
              commentBuf.clear(); commentBuf.append("[CDATA[")
              state = BogusComment
            }
          } else {
            // parse5 errs with the cursor ON the first character after '<!'
            errAt("incorrectly-opened-comment", pos)
            commentBuf.clear(); state = BogusComment
          }

        case CommentStart =>
          val c = read()
          c match {
            case '-' => state = CommentStartDash
            case '>' =>
              err("abrupt-closing-of-empty-comment"); state = Data; emitComment()
            case _ => reconsume(); state = Comment
          }

        case CommentStartDash =>
          val c = read()
          c match {
            case '-' => state = CommentEnd
            case '>' =>
              err("abrupt-closing-of-empty-comment"); state = Data; emitComment()
            case EOF =>
              err("eof-in-comment"); emitComment(); emitEof(); running = false
            case _ => commentBuf.append('-'); reconsume(); state = Comment
          }

        case Comment =>
          val c = read()
          c match {
            case '<' => commentBuf.append('<'); state = CommentLessThan
            case '-' => state = CommentEndDash
            case 0 =>
              err("unexpected-null-character"); commentBuf.append('�')
            case EOF =>
              err("eof-in-comment"); emitComment(); emitEof(); running = false
            case _ => commentBuf.append(c.toChar)
          }

        case CommentLessThan =>
          val c = read()
          c match {
            case '!' => commentBuf.append('!'); state = CommentLessThanBang
            case '<' => commentBuf.append('<')
            case _   => reconsume(); state = Comment
          }

        case CommentLessThanBang =>
          val c = read()
          if (c == '-') state = CommentLessThanBangDash
          else { reconsume(); state = Comment }

        case CommentLessThanBangDash =>
          val c = read()
          if (c == '-') state = CommentLessThanBangDashDash
          else { reconsume(); state = CommentEndDash }

        case CommentLessThanBangDashDash =>
          val c = read()
          if (c == '>' || c == EOF) { reconsume(); state = CommentEnd }
          else {
            err("nested-comment")
            reconsume(); state = CommentEnd
          }

        case CommentEndDash =>
          val c = read()
          c match {
            case '-' => state = CommentEnd
            case EOF =>
              err("eof-in-comment"); emitComment(); emitEof(); running = false
            case _ => commentBuf.append('-'); reconsume(); state = Comment
          }

        case CommentEnd =>
          val c = read()
          c match {
            case '>' => state = Data; emitComment()
            case '!' => state = CommentEndBang
            case '-' => commentBuf.append('-')
            case EOF =>
              err("eof-in-comment"); emitComment(); emitEof(); running = false
            case _ =>
              commentBuf.append("--"); reconsume(); state = Comment
          }

        case CommentEndBang =>
          val c = read()
          c match {
            case '-' =>
              commentBuf.append("--!"); state = CommentEndDash
            case '>' =>
              err("incorrectly-closed-comment"); state = Data; emitComment()
            case EOF =>
              err("eof-in-comment"); emitComment(); emitEof(); running = false
            case _ =>
              commentBuf.append("--!"); reconsume(); state = Comment
          }

        case other =>
          throw new IllegalStateException(s"unhandled tokenizer state $other")
    }
    running
  }

  // ---------------- DOCTYPE ----------------
  private def stepDoctype(s: Int): Boolean = {
    var running = true
    s match {
        case DoctypeState =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' => state = BeforeDoctypeName
            case '>'                      => reconsume(); state = BeforeDoctypeName
            case EOF =>
              err("eof-in-doctype")
              doctype = new DoctypeTok; doctype.start = tokenStart
              doctype.forceQuirks = true
              emitDoctype(); emitEof(); running = false
            case _ =>
              err("missing-whitespace-before-doctype-name")
              reconsume(); state = BeforeDoctypeName
          }

        case BeforeDoctypeName =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' => // skip
            case 0 =>
              err("unexpected-null-character")
              doctype = new DoctypeTok; doctype.start = tokenStart
              nameBuf.clear(); nameBuf.append('�')
              state = DoctypeName
            case '>' =>
              err("missing-doctype-name")
              doctype = new DoctypeTok; doctype.start = tokenStart
              doctype.forceQuirks = true
              state = Data; emitDoctype()
            case EOF =>
              err("eof-in-doctype")
              doctype = new DoctypeTok; doctype.start = tokenStart
              doctype.forceQuirks = true
              emitDoctype(); emitEof(); running = false
            case _ =>
              doctype = new DoctypeTok; doctype.start = tokenStart
              nameBuf.clear(); nameBuf.append(toLower(c))
              state = DoctypeName
          }

        case DoctypeName =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' =>
              doctype.name = nameBuf.toString; state = AfterDoctypeName
            case '>' =>
              doctype.name = nameBuf.toString; state = Data; emitDoctype()
            case 0 =>
              err("unexpected-null-character"); nameBuf.append('�')
            case EOF =>
              err("eof-in-doctype")
              doctype.name = nameBuf.toString; doctype.forceQuirks = true
              emitDoctype(); emitEof(); running = false
            case _ => nameBuf.append(toLower(c))
          }

        case AfterDoctypeName =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' => // skip
            case '>'                      => state = Data; emitDoctype()
            case EOF =>
              err("eof-in-doctype"); doctype.forceQuirks = true
              emitDoctype(); emitEof(); running = false
            case _ =>
              reconsume()
              if (lookaheadIgnoreCase("public")) state = AfterDoctypePublicKeyword
              else if (lookaheadIgnoreCase("system")) state = AfterDoctypeSystemKeyword
              else {
                err("invalid-character-sequence-after-doctype-name")
                doctype.forceQuirks = true
                read(); reconsume(); state = BogusDoctype
              }
          }

        case AfterDoctypePublicKeyword =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' => state = BeforeDoctypePublicId
            case '"' =>
              err("missing-whitespace-after-doctype-public-keyword")
              doctype.publicId = ""; nameBuf.clear(); state = DoctypePublicIdDouble
            case '\'' =>
              err("missing-whitespace-after-doctype-public-keyword")
              doctype.publicId = ""; nameBuf.clear(); state = DoctypePublicIdSingle
            case '>' =>
              err("missing-doctype-public-identifier")
              doctype.forceQuirks = true; state = Data; emitDoctype()
            case EOF =>
              err("eof-in-doctype"); doctype.forceQuirks = true
              emitDoctype(); emitEof(); running = false
            case _ =>
              err("missing-quote-before-doctype-public-identifier")
              doctype.forceQuirks = true; reconsume(); state = BogusDoctype
          }

        case BeforeDoctypePublicId =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' => // skip
            case '"' =>
              doctype.publicId = ""; nameBuf.clear(); state = DoctypePublicIdDouble
            case '\'' =>
              doctype.publicId = ""; nameBuf.clear(); state = DoctypePublicIdSingle
            case '>' =>
              err("missing-doctype-public-identifier")
              doctype.forceQuirks = true; state = Data; emitDoctype()
            case EOF =>
              err("eof-in-doctype"); doctype.forceQuirks = true
              emitDoctype(); emitEof(); running = false
            case _ =>
              err("missing-quote-before-doctype-public-identifier")
              doctype.forceQuirks = true; reconsume(); state = BogusDoctype
          }

        case DoctypePublicIdDouble =>
          val c = read()
          c match {
            case '"' =>
              doctype.publicId = nameBuf.toString; state = AfterDoctypePublicId
            case 0 =>
              err("unexpected-null-character"); nameBuf.append('�')
            case '>' =>
              err("abrupt-doctype-public-identifier")
              doctype.publicId = nameBuf.toString
              doctype.forceQuirks = true; state = Data; emitDoctype()
            case EOF =>
              err("eof-in-doctype")
              doctype.publicId = nameBuf.toString; doctype.forceQuirks = true
              emitDoctype(); emitEof(); running = false
            case _ => nameBuf.append(c.toChar)
          }

        case DoctypePublicIdSingle =>
          val c = read()
          c match {
            case '\'' =>
              doctype.publicId = nameBuf.toString; state = AfterDoctypePublicId
            case 0 =>
              err("unexpected-null-character"); nameBuf.append('�')
            case '>' =>
              err("abrupt-doctype-public-identifier")
              doctype.publicId = nameBuf.toString
              doctype.forceQuirks = true; state = Data; emitDoctype()
            case EOF =>
              err("eof-in-doctype")
              doctype.publicId = nameBuf.toString; doctype.forceQuirks = true
              emitDoctype(); emitEof(); running = false
            case _ => nameBuf.append(c.toChar)
          }

        case AfterDoctypePublicId =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' => state = BetweenDoctypePublicAndSystem
            case '>'                      => state = Data; emitDoctype()
            case '"' =>
              err("missing-whitespace-between-doctype-public-and-system-identifiers")
              doctype.systemId = ""; nameBuf.clear(); state = DoctypeSystemIdDouble
            case '\'' =>
              err("missing-whitespace-between-doctype-public-and-system-identifiers")
              doctype.systemId = ""; nameBuf.clear(); state = DoctypeSystemIdSingle
            case EOF =>
              err("eof-in-doctype"); doctype.forceQuirks = true
              emitDoctype(); emitEof(); running = false
            case _ =>
              err("missing-quote-before-doctype-system-identifier")
              doctype.forceQuirks = true; reconsume(); state = BogusDoctype
          }

        case BetweenDoctypePublicAndSystem =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' => // skip
            case '>'                      => state = Data; emitDoctype()
            case '"' =>
              doctype.systemId = ""; nameBuf.clear(); state = DoctypeSystemIdDouble
            case '\'' =>
              doctype.systemId = ""; nameBuf.clear(); state = DoctypeSystemIdSingle
            case EOF =>
              err("eof-in-doctype"); doctype.forceQuirks = true
              emitDoctype(); emitEof(); running = false
            case _ =>
              err("missing-quote-before-doctype-system-identifier")
              doctype.forceQuirks = true; reconsume(); state = BogusDoctype
          }

        case AfterDoctypeSystemKeyword =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' => state = BeforeDoctypeSystemId
            case '"' =>
              err("missing-whitespace-after-doctype-system-keyword")
              doctype.systemId = ""; nameBuf.clear(); state = DoctypeSystemIdDouble
            case '\'' =>
              err("missing-whitespace-after-doctype-system-keyword")
              doctype.systemId = ""; nameBuf.clear(); state = DoctypeSystemIdSingle
            case '>' =>
              err("missing-doctype-system-identifier")
              doctype.forceQuirks = true; state = Data; emitDoctype()
            case EOF =>
              err("eof-in-doctype"); doctype.forceQuirks = true
              emitDoctype(); emitEof(); running = false
            case _ =>
              err("missing-quote-before-doctype-system-identifier")
              doctype.forceQuirks = true; reconsume(); state = BogusDoctype
          }

        case BeforeDoctypeSystemId =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' => // skip
            case '"' =>
              doctype.systemId = ""; nameBuf.clear(); state = DoctypeSystemIdDouble
            case '\'' =>
              doctype.systemId = ""; nameBuf.clear(); state = DoctypeSystemIdSingle
            case '>' =>
              err("missing-doctype-system-identifier")
              doctype.forceQuirks = true; state = Data; emitDoctype()
            case EOF =>
              err("eof-in-doctype"); doctype.forceQuirks = true
              emitDoctype(); emitEof(); running = false
            case _ =>
              err("missing-quote-before-doctype-system-identifier")
              doctype.forceQuirks = true; reconsume(); state = BogusDoctype
          }

        case DoctypeSystemIdDouble =>
          val c = read()
          c match {
            case '"' =>
              doctype.systemId = nameBuf.toString; state = AfterDoctypeSystemId
            case 0 =>
              err("unexpected-null-character"); nameBuf.append('�')
            case '>' =>
              err("abrupt-doctype-system-identifier")
              doctype.systemId = nameBuf.toString
              doctype.forceQuirks = true; state = Data; emitDoctype()
            case EOF =>
              err("eof-in-doctype")
              doctype.systemId = nameBuf.toString; doctype.forceQuirks = true
              emitDoctype(); emitEof(); running = false
            case _ => nameBuf.append(c.toChar)
          }

        case DoctypeSystemIdSingle =>
          val c = read()
          c match {
            case '\'' =>
              doctype.systemId = nameBuf.toString; state = AfterDoctypeSystemId
            case 0 =>
              err("unexpected-null-character"); nameBuf.append('�')
            case '>' =>
              err("abrupt-doctype-system-identifier")
              doctype.systemId = nameBuf.toString
              doctype.forceQuirks = true; state = Data; emitDoctype()
            case EOF =>
              err("eof-in-doctype")
              doctype.systemId = nameBuf.toString; doctype.forceQuirks = true
              emitDoctype(); emitEof(); running = false
            case _ => nameBuf.append(c.toChar)
          }

        case AfterDoctypeSystemId =>
          val c = read()
          c match {
            case '\t' | '\n' | '\f' | ' ' => // skip
            case '>'                      => state = Data; emitDoctype()
            case EOF =>
              err("eof-in-doctype"); doctype.forceQuirks = true
              emitDoctype(); emitEof(); running = false
            case _ =>
              err("unexpected-character-after-doctype-system-identifier")
              reconsume(); state = BogusDoctype
          }

        case BogusDoctype =>
          val c = read()
          c match {
            case '>' => state = Data; emitDoctype()
            case 0   => err("unexpected-null-character")
            case EOF => emitDoctype(); emitEof(); running = false
            case _   => // skip
          }

        case other =>
          throw new IllegalStateException(s"unhandled tokenizer state $other")
    }
    running
  }

  // ---------------- CDATA ----------------
  private def stepCdata(s: Int): Boolean = {
    var running = true
    s match {
        case CdataSection =>
          val c = read()
          c match {
            case ']' => state = CdataSectionBracket
            case EOF =>
              err("eof-in-cdata"); emitEof(); running = false
            case _ => emitChar(c.toChar)
          }

        case CdataSectionBracket =>
          val c = read()
          if (c == ']') state = CdataSectionEnd
          else {
            emitCharAt(']', curStart)
            reconsume(); state = CdataSection
          }

        case CdataSectionEnd =>
          val c = read()
          if (c == '>') state = Data
          else if (c == ']') emitCharAt(']', curStart)
          else {
            emitCharAt(']', curStart); emitCharAt(']', curStart)
            reconsume(); state = CdataSection
          }

        case other =>
          throw new IllegalStateException(s"unhandled tokenizer state $other")
    }
    running
  }

  private def emitCharAt(c: Char, at: Int): Unit = {
    val save = curStart
    curStart = at
    emitChar(c)
    curStart = save
  }

  /** Shared RCDATA/RAWTEXT/script-data "end tag name" state logic: only the
    * appropriate end tag is honored; otherwise the buffered `</name` text is
    * re-emitted as characters (spec §13.2.5.11/14/17).
    */
  private def handleTextEndTagName(textState: Int): Unit = {
    val c = read()
    c match {
      case '\t' | '\n' | '\f' | ' ' if isAppropriateEndTag =>
        tag.name = nameBuf.toString
        state = BeforeAttrName
      case '/' if isAppropriateEndTag =>
        tag.name = nameBuf.toString
        state = SelfClosingStartTag
      case '>' if isAppropriateEndTag =>
        tag.name = nameBuf.toString
        state = Data
        emitTag()
      case _ if isAsciiAlpha(c) =>
        nameBuf.append(toLower(c))
        tempBuf.append(c.toChar)
      case _ =>
        // Not the appropriate end tag: emit `</` + buffered name as chars.
        tag = null
        emitChar('<'); emitChar('/')
        var i = 0
        while (i < tempBuf.length) { emitChar(tempBuf.charAt(i)); i += 1 }
        tempBuf.clear()
        nameBuf.clear()
        reconsume()
        state = textState
    }
  }
}
