package graft.ops

import java.nio.charset.StandardCharsets
import java.util.zip.Inflater

import scala.collection.mutable
import scala.util.control.NonFatal

/** PDF document + layout parser, pure JDK (no external jars).
  *
  * The north rule's main-content extraction pipeline names three input
  * shapes: HTML boilerplate strip, PDF/layout parse, DOM heuristics. This
  * module is the PDF leg. It is a from-scratch implementation of the parts
  * of ISO 32000 a text-extraction pipeline needs:
  *
  *  - object syntax (dicts, arrays, names with `#xx`, literal strings with
  *    octal/line-continuation escapes, hex strings, refs, streams);
  *  - classic `xref` tables with `/Prev` chains AND PDF 1.5+ cross-reference
  *    streams (`/Type /XRef`, `W` field widths, `Index` ranges) plus object
  *    streams (`/Type /ObjStm`) for compressed objects;
  *  - stream filters: `FlateDecode` via `java.util.zip.Inflater` and
  *    `LZWDecode` (9-12 bit MSB-first codes, EarlyChange 0/1), both with PNG
  *    predictors 10-15 (None/Up/Sub/Average/Paeth un-prediction), plus
  *    `ASCIIHexDecode`, `ASCII85Decode` and `RunLengthDecode`, applied as a
  *    chain in `/Filter` array order;
  *  - the page tree (`Kids` recursion, inherited `Resources`/`MediaBox`);
  *  - a content-stream text interpreter: full text-state machine (Tm/Tlm,
  *    Td TD T* TL Tc Tw Tz Ts Tf) composed with the graphics CTM (q/Q/cm),
  *    show operators Tj/'/"/TJ with kerning-gap space insertion, and
  *    inline-image (BI..EI) skipping;
  *  - layout assembly: device-space text runs clustered into lines by
  *    baseline y, ordered top-to-bottom then left-to-right, with
  *    gap-threshold space insertion between runs.
  *
  * Robustness follows the HTML side's poison-row philosophy: budgets on
  * object count, decoded-stream bytes, page count and interpreter gas; a
  * brute-force `N G obj` scan fallback when the xref chain is corrupt; and
  * every failure surfaced as a typed [[PdfParseException]] so the Spark
  * stage ([[PdfOps]]) can degrade one row instead of killing a task.
  *
  * Font handling: /ToUnicode CMaps are parsed (codespace width, bfchar,
  * bfrange in continuous and array form) and drive show-string decoding —
  * the subset-font case that dominates real-world PDFs; simple-font
  * advance widths come from the font's /Widths table when present.
  * Scope note (documented, not hidden): without /Widths, glyph advances
  * use a fixed 0.5 em estimate (no embedded font-program metric parsing);
  * without /ToUnicode, simple fonts decode as Latin-1 (the standard 8-bit
  * encodings' shared core) and Type0 fonts as UTF-16BE code units
  * (Identity CMaps). That is the standard fidelity/complexity trade for
  * boilerplate-strip pipelines — positions and text content are exact for
  * the dominant simple-font and ToUnicode-subset cases.
  */
final class PdfParseException(msg: String) extends RuntimeException(msg)

object Pdf {

  // ------------------------------------------------------------------
  // Budgets (poison-input guards; tuned for executor-task memory)

  /** Max objects materialised per document. */
  val MaxObjects: Int = 1 << 17
  /** Max decoded bytes for any single stream. */
  val MaxStreamBytes: Int = 64 * 1024 * 1024
  /** Max pages walked in the page tree. */
  val MaxPages: Int = 16 * 1024
  /** Max text runs per page (interpreter gas). */
  val MaxRunsPerPage: Int = 1 << 20

  // ------------------------------------------------------------------
  // Object model

  sealed trait PObj
  final case class PNum(v: Double) extends PObj { def int: Int = v.toInt; def long: Long = v.toLong }
  final case class PBool(b: Boolean) extends PObj
  case object PNull extends PObj
  final case class PName(name: String) extends PObj
  final case class PStr(bytes: Array[Byte]) extends PObj
  final case class PArr(items: Vector[PObj]) extends PObj
  final case class PDict(entries: Map[String, PObj]) extends PObj {
    def get(k: String): Option[PObj] = entries.get(k)
  }
  final case class PRef(num: Int, gen: Int) extends PObj
  final case class PStream(dict: PDict, raw: Array[Byte]) extends PObj

  // ------------------------------------------------------------------
  // Result model

  /** One positioned text run in device space (origin = text baseline start).
    * `width` is the interpreter's advance estimate for the run.
    */
  final case class TextRun(x: Double, y: Double, width: Double, fontSize: Double, text: String)

  /** One assembled layout line: runs sharing a baseline, left-to-right. */
  final case class PdfLine(y: Double, x: Double, text: String)

  final case class PdfPage(index: Int, width: Double, height: Double, lines: Vector[PdfLine]) {
    def text: String = lines.iterator.map(_.text).mkString("\n")
  }

  final case class PdfDoc(version: String, pages: Vector[PdfPage], nObjects: Int,
                          warnings: Vector[String]) {
    def text: String = pages.iterator.map(_.text).mkString("\n\n")
  }

  // ------------------------------------------------------------------
  // Character classes

  private def isWs(b: Int): Boolean =
    b == 0 || b == 9 || b == 10 || b == 12 || b == 13 || b == 32
  private def isDelim(b: Int): Boolean =
    b == '(' || b == ')' || b == '<' || b == '>' || b == '[' || b == ']' ||
      b == '{' || b == '}' || b == '/' || b == '%'
  private def isDigit(b: Int): Boolean = b >= '0' && b <= '9'
  private def hexVal(b: Int): Int =
    if (b >= '0' && b <= '9') b - '0'
    else if (b >= 'a' && b <= 'f') b - 'a' + 10
    else if (b >= 'A' && b <= 'F') b - 'A' + 10
    else -1

  // ------------------------------------------------------------------
  // Lexer + object parser (shared by file structure and content streams)

  private final class Lexer(val buf: Array[Byte], var pos: Int = 0) {
    def atEnd: Boolean = pos >= buf.length
    def peek: Int = if (pos < buf.length) buf(pos) & 0xff else -1
    def peekAt(i: Int): Int = if (pos + i < buf.length) buf(pos + i) & 0xff else -1

    def skipWs(): Unit = {
      var going = true
      while (going && !atEnd) {
        val b = peek
        if (isWs(b)) pos += 1
        else if (b == '%') { // comment to EOL
          while (!atEnd && peek != '\n' && peek != '\r') pos += 1
        } else going = false
      }
    }

    /** Bare token of regular characters (operator / keyword). */
    def keyword(): String = {
      skipWs()
      val start = pos
      while (!atEnd && !isWs(peek) && !isDelim(peek)) pos += 1
      new String(buf, start, pos - start, StandardCharsets.ISO_8859_1)
    }

    /** True if the next non-ws token is exactly `kw` (consumes it). */
    def tryKeyword(kw: String): Boolean = {
      skipWs()
      val save = pos
      if (keyword() == kw) true else { pos = save; false }
    }

    def parseName(): PName = {
      pos += 1 // '/'
      val sb = new java.lang.StringBuilder(16)
      while (!atEnd && !isWs(peek) && !isDelim(peek)) {
        val b = peek
        if (b == '#' && hexVal(peekAt(1)) >= 0 && hexVal(peekAt(2)) >= 0) {
          sb.append(((hexVal(peekAt(1)) << 4) | hexVal(peekAt(2))).toChar)
          pos += 3
        } else { sb.append(b.toChar); pos += 1 }
      }
      PName(sb.toString)
    }

    def parseLiteralString(): PStr = {
      pos += 1 // '('
      val out = new java.io.ByteArrayOutputStream(32)
      var depth = 1
      while (!atEnd && depth > 0) {
        val b = peek
        if (b == '\\') {
          pos += 1
          val e = peek
          e match {
            case 'n' => out.write('\n'); pos += 1
            case 'r' => out.write('\r'); pos += 1
            case 't' => out.write('\t'); pos += 1
            case 'b' => out.write('\b'); pos += 1
            case 'f' => out.write('\f'); pos += 1
            case '(' => out.write('('); pos += 1
            case ')' => out.write(')'); pos += 1
            case '\\' => out.write('\\'); pos += 1
            case '\r' => // line continuation: \CR or \CRLF
              pos += 1; if (peek == '\n') pos += 1
            case '\n' => pos += 1
            case d if d >= '0' && d <= '7' =>
              var v = 0; var n = 0
              while (n < 3 && peek >= '0' && peek <= '7') { v = v * 8 + (peek - '0'); pos += 1; n += 1 }
              out.write(v & 0xff)
            case -1 =>
            case other => out.write(other); pos += 1 // unknown escape: literal
          }
        } else if (b == '(') { depth += 1; out.write(b); pos += 1 }
        else if (b == ')') { depth -= 1; if (depth > 0) out.write(b); pos += 1 }
        else if (b == '\r') { // raw EOL in string normalises to LF
          out.write('\n'); pos += 1; if (peek == '\n') pos += 1
        } else { out.write(b); pos += 1 }
      }
      PStr(out.toByteArray)
    }

    def parseHexString(): PStr = {
      pos += 1 // '<'
      val out = new java.io.ByteArrayOutputStream(16)
      var hi = -1
      while (!atEnd && peek != '>') {
        val v = hexVal(peek)
        if (v >= 0) {
          if (hi < 0) hi = v
          else { out.write((hi << 4) | v); hi = -1 }
        }
        pos += 1
      }
      if (hi >= 0) out.write(hi << 4) // odd count: pad 0
      if (!atEnd) pos += 1 // '>'
      PStr(out.toByteArray)
    }

    def parseNumber(): PNum = {
      val start = pos
      if (peek == '+' || peek == '-') pos += 1
      while (isDigit(peek)) pos += 1
      if (peek == '.') { pos += 1; while (isDigit(peek)) pos += 1 }
      val s = new String(buf, start, pos - start, StandardCharsets.ISO_8859_1)
      PNum(if (s.isEmpty || s == "+" || s == "-" || s == ".") 0.0 else s.toDouble)
    }

    def parseNonNegInt(): Int = {
      skipWs()
      var v = 0L
      while (isDigit(peek)) { v = v * 10 + (peek - '0'); if (v > Int.MaxValue) v = Int.MaxValue; pos += 1 }
      v.toInt
    }
  }

  /** Parse one object. `allowRefs` enables `N G R` lookahead (file structure
    * syntax); content streams parse with it off so bare ints stay operands.
    * `resolveLen` resolves an indirect /Length when reading stream data
    * (null-safe: falls back to an `endstream` scan).
    */
  private def parseObject(lx: Lexer, allowRefs: Boolean,
                          resolveLen: PObj => Option[PObj]): PObj = {
    lx.skipWs()
    val b = lx.peek
    b match {
      case -1 => throw new PdfParseException("eof")
      case '/' => lx.parseName()
      case '(' => lx.parseLiteralString()
      case '[' =>
        lx.pos += 1
        val items = Vector.newBuilder[PObj]
        var going = true
        while (going) {
          lx.skipWs()
          if (lx.peek == ']') { lx.pos += 1; going = false }
          else if (lx.atEnd) going = false
          else items += parseObject(lx, allowRefs, resolveLen)
        }
        PArr(items.result())
      case '<' =>
        if (lx.peekAt(1) == '<') {
          lx.pos += 2
          val m = Map.newBuilder[String, PObj]
          var going = true
          while (going) {
            lx.skipWs()
            if (lx.peek == '>' && lx.peekAt(1) == '>') { lx.pos += 2; going = false }
            else if (lx.atEnd) going = false
            else if (lx.peek == '/') {
              val k = lx.parseName().name
              val v = parseObject(lx, allowRefs, resolveLen)
              m += k -> v
            } else { // garbage key: skip one object leniently
              parseObject(lx, allowRefs, resolveLen)
            }
          }
          val dict = PDict(m.result())
          // a stream may follow a dict
          val save = lx.pos
          if (lx.tryKeyword("stream")) {
            // EOL after `stream`: CRLF or LF
            if (lx.peek == '\r') lx.pos += 1
            if (lx.peek == '\n') lx.pos += 1
            val lenObj = dict.get("Length").flatMap {
              case r: PRef => if (resolveLen ne null) resolveLen(r) else None
              case o => Some(o)
            }
            val start = lx.pos
            val declared = lenObj match {
              case Some(PNum(v)) if v >= 0 && start + v.toLong <= lx.buf.length => v.toInt
              case _ => -1
            }
            val end =
              if (declared >= 0 && endstreamFollows(lx.buf, start + declared)) start + declared
              else scanEndstream(lx.buf, start)
            val raw = java.util.Arrays.copyOfRange(lx.buf, start, end)
            lx.pos = end
            lx.tryKeyword("endstream")
            PStream(dict, raw)
          } else { lx.pos = save; dict }
        } else lx.parseHexString()
      case _ if isDigit(b) || b == '+' || b == '-' || b == '.' =>
        val n = lx.parseNumber()
        if (allowRefs && n.v >= 0 && n.v == math.floor(n.v)) {
          val save = lx.pos
          lx.skipWs()
          if (isDigit(lx.peek)) {
            val g = lx.parseNumber()
            lx.skipWs()
            if (lx.peek == 'R' && (isWs(lx.peekAt(1)) || isDelim(lx.peekAt(1)) || lx.peekAt(1) == -1) &&
              g.v >= 0 && g.v == math.floor(g.v)) {
              lx.pos += 1
              return PRef(n.int, g.int)
            }
          }
          lx.pos = save
        }
        n
      case _ =>
        val kw = lx.keyword()
        kw match {
          case "true" => PBool(true)
          case "false" => PBool(false)
          case "null" => PNull
          case "" => lx.pos += 1; PNull // lone delimiter: skip leniently
          case other => PName("#op:" + other) // bare keyword (content operator)
        }
    }
  }

  private def endstreamFollows(buf: Array[Byte], at: Int): Boolean = {
    var i = at
    var skipped = 0
    while (i < buf.length && skipped < 4 && isWs(buf(i) & 0xff)) { i += 1; skipped += 1 }
    i + 9 <= buf.length && new String(buf, i, 9, StandardCharsets.ISO_8859_1) == "endstream"
  }

  private def scanEndstream(buf: Array[Byte], from: Int): Int = {
    var i = from
    val lim = buf.length - 9
    while (i <= lim) {
      if (buf(i) == 'e' && new String(buf, i, 9, StandardCharsets.ISO_8859_1) == "endstream") {
        // trim the EOL that belongs to the stream terminator
        var e = i
        if (e > from && buf(e - 1) == '\n') e -= 1
        if (e > from && buf(e - 1) == '\r') e -= 1
        return e
      }
      i += 1
    }
    buf.length
  }

  // ------------------------------------------------------------------
  // Stream filters

  private def inflate(data: Array[Byte], cap: Int): Array[Byte] = {
    val inf = new Inflater()
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(math.max(64, math.min(cap, data.length * 4)))
      val buf = new Array[Byte](8192)
      var going = true
      while (going && !inf.finished() && out.size <= cap) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        // truncated input: keep what decoded (lenient, like a tail-damaged file)
        else if (inf.needsInput() || inf.needsDictionary()) going = false
      }
      checkedBytes(out, cap)
    } catch {
      case _: java.util.zip.DataFormatException => throw new PdfParseException("flate_corrupt")
    } finally inf.end()
  }

  private def checkedBytes(out: java.io.ByteArrayOutputStream, cap: Int): Array[Byte] = {
    if (out.size > cap) throw new PdfParseException("budget:stream_bytes")
    out.toByteArray
  }

  /** Undo PNG row predictors (Flate /DecodeParms /Predictor >= 10). */
  private def pngUnpredict(data: Array[Byte], columns: Int, bpp: Int): Array[Byte] = {
    val rowLen = columns * bpp
    if (rowLen <= 0) return data
    val nRows = data.length / (rowLen + 1)
    val out = new Array[Byte](nRows * rowLen)
    var r = 0
    while (r < nRows) {
      val ft = data(r * (rowLen + 1)) & 0xff
      val src = r * (rowLen + 1) + 1
      val dst = r * rowLen
      var i = 0
      while (i < rowLen) {
        val raw = data(src + i) & 0xff
        val left = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
        val up = if (r > 0) out(dst - rowLen + i) & 0xff else 0
        val ul = if (r > 0 && i >= bpp) out(dst - rowLen + i - bpp) & 0xff else 0
        val v = ft match {
          case 0 => raw
          case 1 => raw + left
          case 2 => raw + up
          case 3 => raw + ((left + up) >> 1)
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
            raw + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
          case _ => raw
        }
        out(dst + i) = (v & 0xff).toByte
        i += 1
      }
      r += 1
    }
    out
  }

  private def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 1)
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val b = data(i) & 0xff
      if (b == '>') done = true
      else {
        val v = hexVal(b)
        if (v >= 0) { if (hi < 0) hi = v else { out.write((hi << 4) | v); hi = -1 } }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4)
    out.toByteArray
  }

  /** ASCII85Decode (ISO 32000 7.4.3): 5 chars '!'..'u' = 4 bytes base-85
    * big-endian; 'z' = four zero bytes (group start only); '~>' terminates;
    * a final partial group of n digits is padded with 'u' and yields n-1
    * bytes. Whitespace is skipped anywhere.
    */
  private[graft] def ascii85Decode(data: Array[Byte], cap: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 4 / 5 + 4)
    val group = new Array[Int](5)
    var n = 0
    var i = 0
    // some producers open with '<~' — tolerate it
    if (data.length >= 2 && data(0) == '<' && data(1) == '~') i = 2
    var done = false
    def flush(k: Int): Unit = { // k digits present, emit k-1 bytes
      var j = k
      while (j < 5) { group(j) = 84; j += 1 }
      var v = 0L
      j = 0
      while (j < 5) { v = v * 85L + group(j); j += 1 }
      if (v > 0xFFFFFFFFL) throw new PdfParseException("a85_corrupt")
      var shift = 24
      j = 0
      while (j < k - 1) { out.write(((v >>> shift) & 0xff).toInt); shift -= 8; j += 1 }
      n = 0
    }
    while (i < data.length && !done) {
      val b = data(i) & 0xff
      if (b == '~') done = true
      else if (b == 'z' && n == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
      else if (b >= '!' && b <= 'u') {
        group(n) = b - '!'; n += 1
        if (n == 5) flush(5)
        if (out.size > cap) throw new PdfParseException("budget:stream_bytes")
      } else if (b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == '\f' || b == 0) ()
      else throw new PdfParseException("a85_corrupt")
      i += 1
    }
    if (n == 1) throw new PdfParseException("a85_corrupt") // 1 leftover digit is invalid
    if (n >= 2) flush(n)
    if (out.size > cap) throw new PdfParseException("budget:stream_bytes")
    out.toByteArray
  }

  /** RunLengthDecode (ISO 32000 7.4.5): length byte L in 0..127 copies the
    * next L+1 bytes; L in 129..255 repeats the next byte 257-L times; 128 is
    * EOD. Truncated input keeps what decoded (lenient, like flate).
    */
  private[graft] def runLengthDecode(data: Array[Byte], cap: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 2 + 16)
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val l = data(i) & 0xff
      i += 1
      if (l == 128) done = true
      else if (l < 128) {
        val take = math.min(l + 1, data.length - i)
        out.write(data, i, take); i += take
      } else {
        if (i < data.length) {
          val b = data(i); i += 1
          var r = 257 - l
          while (r > 0) { out.write(b); r -= 1 }
        }
      }
      if (out.size > cap) throw new PdfParseException("budget:stream_bytes")
    }
    out.toByteArray
  }

  /** LZWDecode (ISO 32000 7.4.4 / TIFF variant): MSB-first variable-width
    * codes starting at 9 bits; 256 = clear table, 257 = EOD; with
    * EarlyChange=1 (default) the width grows one code early (at table size
    * 2^w - 1, else at 2^w). Max width 12 bits.
    */
  private[graft] def lzwDecode(data: Array[Byte], earlyChange: Int, cap: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 3 + 16)
    // table entries 258+; literals 0-255 are implicit
    val entries = new Array[Array[Byte]](4096)
    var next = 258
    var width = 9
    var prev: Array[Byte] = null
    val grow = if (earlyChange == 0) 0 else 1
    var acc = 0L
    var nbits = 0
    var i = 0
    var done = false
    def entryOf(code: Int): Array[Byte] =
      if (code < 256) Array(code.toByte)
      else {
        val e = entries(code)
        if (code >= next || e == null) throw new PdfParseException("lzw_corrupt")
        e
      }
    while (!done) {
      while (nbits < width && i < data.length) {
        acc = (acc << 8) | (data(i) & 0xffL); nbits += 8; i += 1
      }
      if (nbits < width) done = true // truncated input: keep what decoded
      else {
        val code = ((acc >>> (nbits - width)) & ((1L << width) - 1)).toInt
        nbits -= width
        if (code == 257) done = true
        else if (code == 256) { next = 258; width = 9; prev = null }
        else {
          val cur: Array[Byte] =
            if (code == next && prev != null) { // the KwKwK case
              val e = java.util.Arrays.copyOf(prev, prev.length + 1)
              e(prev.length) = prev(0); e
            } else entryOf(code)
          out.write(cur, 0, cur.length)
          if (out.size > cap) throw new PdfParseException("budget:stream_bytes")
          if (prev != null && next < 4096) {
            val e = java.util.Arrays.copyOf(prev, prev.length + 1)
            e(prev.length) = cur(0)
            entries(next) = e
            next += 1
            if (width < 12 && next + grow >= (1 << width)) width += 1
          }
          prev = cur
        }
      }
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Document (xref + object access)

  private sealed trait XrefEntry
  private final case class InFile(offset: Long) extends XrefEntry
  private final case class InStream(stmNum: Int, idx: Int) extends XrefEntry

  private final class Doc(val bytes: Array[Byte]) {
    val xref = mutable.HashMap.empty[Int, XrefEntry]
    val cache = mutable.HashMap.empty[Int, PObj]
    val warnings = mutable.ArrayBuffer.empty[String]
    var trailer: Map[String, PObj] = Map.empty

    def warn(w: String): Unit = if (warnings.length < 64) warnings += w

    // ---- xref loading

    def load(): Unit = {
      val sx = findStartxref()
      var ok = false
      if (sx >= 0) {
        try { loadXrefAt(sx, 0); ok = xref.nonEmpty && trailer.contains("Root") }
        catch {
          case NonFatal(_) => ok = false
          case _: StackOverflowError => ok = false
        }
      }
      if (ok) {
        // sanity: Root -> Pages must resolve through the loaded table;
        // shifted/zeroed offsets (a common corruption) fail here and rebuild
        try {
          resolve(trailer("Root")) match {
            case d: PDict =>
              resolve(d.get("Pages").getOrElse(PNull)) match {
                case _: PDict => ()
                case _ => ok = false
              }
            case _ => ok = false
          }
        } catch {
          case NonFatal(_) => ok = false
          case _: StackOverflowError => ok = false
        }
      }
      if (!ok) {
        warn("xref_rebuild")
        xref.clear(); cache.clear(); trailer = Map.empty
        rebuildByScan()
      }
      if (!trailer.contains("Root")) findRootByScan()
      if (!trailer.contains("Root")) throw new PdfParseException("no_root")
      // Encrypted documents (ubiquitous in crawled corpora): strings and
      // streams are RC4/AES-enciphered, so "extracting" would emit garbage
      // that LOOKS like text. Refuse with a stable poison code instead —
      // decryption is out of scope by design.
      if (trailer.contains("Encrypt")) throw new PdfParseException("encrypted")
    }

    private def findStartxref(): Long = {
      val tail = math.max(0, bytes.length - 2048)
      val s = new String(bytes, tail, bytes.length - tail, StandardCharsets.ISO_8859_1)
      val i = s.lastIndexOf("startxref")
      if (i < 0) -1L
      else {
        val lx = new Lexer(bytes, tail + i + "startxref".length)
        lx.skipWs()
        val off = lx.parseNumber().long
        if (off >= 0 && off < bytes.length) off else -1L
      }
    }

    private def loadXrefAt(offset: Long, depth: Int): Unit = {
      if (depth > 64) throw new PdfParseException("xref_chain_too_deep")
      val lx = new Lexer(bytes, offset.toInt)
      if (lx.tryKeyword("xref")) loadClassicXref(lx, depth)
      else loadXrefStream(lx, depth)
    }

    private def loadClassicXref(lx: Lexer, depth: Int): Unit = {
      var going = true
      while (going) {
        lx.skipWs()
        if (isDigit(lx.peek)) {
          val start = lx.parseNonNegInt()
          val count = lx.parseNonNegInt()
          var i = 0
          while (i < count) {
            lx.skipWs()
            val off = lx.parseNonNegInt()
            val gen = lx.parseNonNegInt(); val _ = gen
            lx.skipWs()
            val kind = lx.peek
            lx.pos += 1
            val num = start + i
            if (kind == 'n' && !xref.contains(num)) xref(num) = InFile(off.toLong)
            i += 1
          }
        } else if (lx.tryKeyword("trailer")) {
          parseObject(lx, allowRefs = true, resolveLen = null) match {
            case d: PDict =>
              for ((k, v) <- d.entries) if (!trailer.contains(k)) trailer += k -> v
              d.get("XRefStm").foreach { case PNum(v) => loadXrefAt(v.toLong, depth + 1); case _ => () }
              d.get("Prev").foreach { case PNum(v) => loadXrefAt(v.toLong, depth + 1); case _ => () }
            case _ => warn("bad_trailer")
          }
          going = false
        } else going = false
      }
    }

    private def loadXrefStream(lx: Lexer, depth: Int): Unit = {
      lx.skipWs()
      lx.parseNonNegInt(); lx.parseNonNegInt() // object number, generation
      if (!lx.tryKeyword("obj")) throw new PdfParseException("bad_xref")
      parseObject(lx, allowRefs = true, resolveLen = o => Some(resolve(o))) match {
        case ps @ PStream(dict, _) if dict.get("Type").contains(PName("XRef")) =>
          val data = decodeStream(ps)
          val w = dict.get("W") match {
            case Some(PArr(items)) => items.map { case PNum(v) => v.toInt; case _ => 0 }
            case _ => throw new PdfParseException("xref_stream_no_w")
          }
          if (w.length < 3) throw new PdfParseException("xref_stream_bad_w")
          val size = dict.get("Size") match { case Some(PNum(v)) => v.toInt; case _ => 0 }
          val index: Vector[(Int, Int)] = dict.get("Index") match {
            case Some(PArr(items)) =>
              items.grouped(2).collect { case Vector(PNum(a), PNum(b)) => (a.toInt, b.toInt) }.toVector
            case _ => Vector((0, size))
          }
          val rowLen = w.sum
          var p = 0
          for ((start, count) <- index) {
            var i = 0
            while (i < count && p + rowLen <= data.length) {
              var j = 0
              def field(width: Int): Long = {
                var v = 0L; var k = 0
                while (k < width) { v = (v << 8) | (data(p + j + k) & 0xff); k += 1 }
                j += width; v
              }
              val t = if (w(0) == 0) 1L else field(w(0))
              val f2 = field(w(1))
              val f3 = field(w(2))
              val num = start + i
              if (!xref.contains(num)) {
                t match {
                  case 1L => xref(num) = InFile(f2)
                  case 2L => xref(num) = InStream(f2.toInt, f3.toInt)
                  case _ => () // free
                }
              }
              p += rowLen
              i += 1
            }
          }
          for ((k, v) <- dict.entries) if (!trailer.contains(k)) trailer += k -> v
          dict.get("Prev").foreach { case PNum(v) => loadXrefAt(v.toLong, depth + 1); case _ => () }
        case _ => throw new PdfParseException("bad_xref_stream")
      }
    }

    /** Corrupt-xref fallback: scan the whole file for `N G obj` headers;
      * later definitions win (they are newer in incremental updates).
      */
    private def rebuildByScan(): Unit = {
      val n = bytes.length
      var i = 0
      while (i + 3 <= n) {
        if (bytes(i) == 'o' && bytes(i + 1) == 'b' && bytes(i + 2) == 'j' &&
          (i + 3 >= n || isWs(bytes(i + 3) & 0xff) || isDelim(bytes(i + 3) & 0xff))) {
          // backtrack: ws, gen digits, ws, num digits
          var j = i - 1
          while (j >= 0 && isWs(bytes(j) & 0xff)) j -= 1
          val genEnd = j
          while (j >= 0 && isDigit(bytes(j) & 0xff)) j -= 1
          val genStart = j + 1
          if (genEnd >= genStart) {
            while (j >= 0 && isWs(bytes(j) & 0xff)) j -= 1
            val numEnd = j
            while (j >= 0 && isDigit(bytes(j) & 0xff)) j -= 1
            val numStart = j + 1
            val boundary = j < 0 || isWs(bytes(j) & 0xff) || isDelim(bytes(j) & 0xff)
            if (numEnd >= numStart && numEnd - numStart < 9 && boundary) {
              val num = new String(bytes, numStart, numEnd - numStart + 1, StandardCharsets.ISO_8859_1).toInt
              xref(num) = InFile(numStart.toLong) // later wins: unconditional put
            }
          }
        }
        i += 1
      }
      // pick up trailer dict for /Root if present
      val s = new String(bytes, StandardCharsets.ISO_8859_1)
      val ti = s.lastIndexOf("trailer")
      if (ti >= 0) {
        try {
          val lx = new Lexer(bytes, ti + "trailer".length)
          parseObject(lx, allowRefs = true, resolveLen = null) match {
            case d: PDict => for ((k, v) <- d.entries) if (!trailer.contains(k)) trailer += k -> v
            case _ => ()
          }
        } catch { case NonFatal(_) => () }
      }
    }

    private def findRootByScan(): Unit = {
      // last resort: any object whose dict is /Type /Catalog
      val nums = xref.keys.toArray.sorted
      var i = 0
      while (i < nums.length && !trailer.contains("Root")) {
        try {
          getObject(nums(i)) match {
            case d: PDict if d.get("Type").contains(PName("Catalog")) =>
              trailer += "Root" -> PRef(nums(i), 0)
            case PStream(d, _) if d.get("Type").contains(PName("Catalog")) =>
              trailer += "Root" -> PRef(nums(i), 0)
            case _ => ()
          }
        } catch { case NonFatal(_) => () }
        i += 1
      }
    }

    // ---- object access

    def getObject(num: Int): PObj = cache.getOrElseUpdate(num, {
      if (cache.size > MaxObjects) throw new PdfParseException("budget:objects")
      xref.get(num) match {
        case Some(InFile(off)) if off >= 0 && off < bytes.length =>
          val lx = new Lexer(bytes, off.toInt)
          lx.skipWs()
          val declaredNum = lx.parseNonNegInt()
          lx.parseNonNegInt() // gen
          if (!lx.tryKeyword("obj")) { warn(s"bad_obj_header:$num"); PNull }
          else if (declaredNum != num) {
            // a mismatched header means the xref offset is wrong — do not
            // trust the object (load() rebuilds when this breaks the root)
            warn(s"obj_num_mismatch:$num"); PNull
          } else parseObject(lx, allowRefs = true, resolveLen = o => Some(resolve(o)))
        case Some(InStream(stmNum, idx)) =>
          getObject(stmNum) match {
            case ps @ PStream(dict, _) if dict.get("Type").contains(PName("ObjStm")) =>
              val data = decodeStream(ps)
              val n = dict.get("N") match { case Some(PNum(v)) => v.toInt; case _ => 0 }
              val first = dict.get("First") match { case Some(PNum(v)) => v.toInt; case _ => 0 }
              val hl = new Lexer(data, 0)
              var found: PObj = PNull
              var i = 0
              var relOff = -1
              while (i < n) {
                val onum = hl.parseNonNegInt()
                val ooff = hl.parseNonNegInt()
                if (i == idx) {
                  if (onum != num) warn(s"objstm_num_mismatch:$num")
                  relOff = ooff
                }
                i += 1
              }
              if (relOff >= 0 && first + relOff < data.length) {
                val ol = new Lexer(data, first + relOff)
                found = parseObject(ol, allowRefs = true, resolveLen = null)
              } else warn(s"objstm_missing:$num")
              found
            case _ => warn(s"bad_objstm:$stmNum"); PNull
          }
        case _ => PNull // free / absent object resolves to null per spec
      }
    })

    def resolve(o: PObj): PObj = {
      var cur = o
      var gas = 32
      while (gas > 0) {
        cur match {
          case PRef(num, _) => cur = getObject(num); gas -= 1
          case other => return other
        }
      }
      throw new PdfParseException("ref_cycle")
    }

    def decodeStream(ps: PStream): Array[Byte] = {
      val filters: Vector[PObj] = resolve(ps.dict.get("Filter").getOrElse(PNull)) match {
        case n: PName => Vector(n)
        case PArr(items) => items.map(resolve)
        case _ => Vector.empty
      }
      val parmsArr: Vector[PObj] = resolve(ps.dict.get("DecodeParms").getOrElse(PNull)) match {
        case d: PDict => Vector(d)
        case PArr(items) => items.map(resolve)
        case _ => Vector.empty
      }
      // /DecodeParms /Predictor applies to Flate AND LZW (ISO 32000 7.4.4.4)
      def unpredict(parms: PObj, d0: Array[Byte]): Array[Byte] = parms match {
        case pd: PDict =>
          val pred = pd.get("Predictor").map(resolve) match { case Some(PNum(v)) => v.toInt; case _ => 1 }
          if (pred >= 10) {
            val cols = pd.get("Columns").map(resolve) match { case Some(PNum(v)) => v.toInt; case _ => 1 }
            val colors = pd.get("Colors").map(resolve) match { case Some(PNum(v)) => v.toInt; case _ => 1 }
            val bpc = pd.get("BitsPerComponent").map(resolve) match { case Some(PNum(v)) => v.toInt; case _ => 8 }
            val bpp = math.max(1, colors * bpc / 8)
            pngUnpredict(d0, cols, bpp)
          } else { if (pred != 1) warn(s"predictor_unsupported:$pred"); d0 }
        case _ => d0
      }
      var data = ps.raw
      var i = 0
      while (i < filters.length) {
        val parms = if (i < parmsArr.length) parmsArr(i) else PNull
        filters(i) match {
          case PName("FlateDecode") | PName("Fl") =>
            data = unpredict(parms, inflate(data, MaxStreamBytes))
          case PName("LZWDecode") | PName("LZW") =>
            val early = parms match {
              case pd: PDict => pd.get("EarlyChange").map(resolve) match {
                case Some(PNum(v)) => v.toInt; case _ => 1
              }
              case _ => 1
            }
            data = unpredict(parms, lzwDecode(data, early, MaxStreamBytes))
          case PName("ASCIIHexDecode") | PName("AHx") =>
            data = asciiHexDecode(data)
          case PName("ASCII85Decode") | PName("A85") =>
            data = ascii85Decode(data, MaxStreamBytes)
          case PName("RunLengthDecode") | PName("RL") =>
            data = runLengthDecode(data, MaxStreamBytes)
          case PName(other) =>
            warn(s"filter_unsupported:$other")
            data = Array.empty[Byte]
          case _ => ()
        }
        i += 1
      }
      data
    }
  }

  // ------------------------------------------------------------------
  // Page tree

  private final case class RawPage(dict: PDict, resources: PDict, mediaBox: Option[PArr])

  private def collectPages(doc: Doc): Vector[RawPage] = {
    val root = doc.resolve(doc.trailer.getOrElse("Root", PNull)) match {
      case d: PDict => d
      case _ => throw new PdfParseException("bad_catalog")
    }
    val out = Vector.newBuilder[RawPage]
    var count = 0
    val visiting = mutable.HashSet.empty[PObj]

    def walk(nodeRef: PObj, inhRes: PDict, inhBox: Option[PArr], depth: Int): Unit = {
      if (depth > 64 || count >= MaxPages) return
      if (nodeRef.isInstanceOf[PRef] && !visiting.add(nodeRef)) return // cycle guard
      val node = doc.resolve(nodeRef) match { case d: PDict => d; case _ => return }
      val res = doc.resolve(node.get("Resources").getOrElse(PNull)) match {
        case d: PDict => d; case _ => inhRes
      }
      val box = doc.resolve(node.get("MediaBox").getOrElse(PNull)) match {
        case a: PArr => Some(a); case _ => inhBox
      }
      val tpe = node.get("Type")
      val kids = doc.resolve(node.get("Kids").getOrElse(PNull))
      (tpe, kids) match {
        case (Some(PName("Page")), _) =>
          count += 1; out += RawPage(node, res, box)
        case (_, PArr(items)) =>
          items.foreach(k => walk(k, res, box, depth + 1))
        case _ =>
          if (node.get("Contents").isDefined) { count += 1; out += RawPage(node, res, box) }
      }
    }

    walk(root.get("Pages").getOrElse(PNull), PDict(Map.empty), None, 0)
    out.result()
  }

  // ------------------------------------------------------------------
  // Content-stream text interpreter

  /** 2D affine matrix [a b c d e f] (PDF row-vector convention). */
  private def matMul(m1: Array[Double], m2: Array[Double]): Array[Double] = Array(
    m1(0) * m2(0) + m1(1) * m2(2),
    m1(0) * m2(1) + m1(1) * m2(3),
    m1(2) * m2(0) + m1(3) * m2(2),
    m1(2) * m2(1) + m1(3) * m2(3),
    m1(4) * m2(0) + m1(5) * m2(2) + m2(4),
    m1(4) * m2(1) + m1(5) * m2(3) + m2(5))

  private val Identity = Array(1.0, 0.0, 0.0, 1.0, 0.0, 0.0)

  /** Average glyph advance as a fraction of the font size (no embedded
    * metrics; Helvetica-ish). Documented estimate, used consistently by
    * both the interpreter advance and line-assembly gap logic.
    */
  val GlyphWidthEm: Double = 0.5

  /** TJ adjustment (thousandths of an em) at or below which a space is
    * inserted — i.e. a kern gap of >= 0.2 em reads as a word break.
    */
  val SpaceKernThousandths: Double = -200.0

  /** Gap between two runs on one baseline (in units of font size) above
    * which a space joins them in line assembly.
    */
  val JoinGapEm: Double = 0.3

  /** A parsed ToUnicode CMap: source code width in bytes (1 or 2) and the
    * code → text mapping (bfchar + expanded bfrange entries).
    */
  final case class ToUnicodeCMap(codeBytes: Int, map: Map[Int, String])

  /** Per-font text metadata resolved from the page resources: Type0-ness,
    * optional ToUnicode CMap, and the simple-font /Widths table (glyph
    * widths in thousandths of an em, indexed from /FirstChar).
    */
  private final case class FontInfo(type0: Boolean, toUnicode: Option[ToUnicodeCMap],
                                    firstChar: Int, widths: Array[Double])

  /** Parse a ToUnicode CMap stream: begincodespacerange (source width),
    * beginbfchar pairs, beginbfrange triples (continuous or array form).
    * Lenient: anything unrecognised is skipped; entry count is bounded.
    */
  def parseToUnicodeCMap(data: Array[Byte]): ToUnicodeCMap = {
    val lx = new Lexer(data, 0)
    val m = mutable.HashMap.empty[Int, String]
    var codeBytes = 0
    val stack = mutable.ArrayBuffer.empty[PObj]
    def codeOf(s: PStr): Int = {
      var v = 0; var i = 0
      while (i < s.bytes.length && i < 4) { v = (v << 8) | (s.bytes(i) & 0xff); i += 1 }
      v
    }
    def textOf(s: PStr): String = { // UTF-16BE destination
      val sb = new java.lang.StringBuilder(s.bytes.length / 2)
      var i = 0
      while (i + 1 < s.bytes.length) {
        sb.append((((s.bytes(i) & 0xff) << 8) | (s.bytes(i + 1) & 0xff)).toChar)
        i += 2
      }
      sb.toString
    }
    var guard = 0
    while (!lx.atEnd && guard < (1 << 20)) {
      guard += 1
      lx.skipWs()
      if (!lx.atEnd) {
        val obj = try parseObject(lx, allowRefs = false, resolveLen = null)
        catch { case NonFatal(_) => PNull }
        obj match {
          case PName(op) if op.startsWith("#op:") => op.substring(4) match {
            case "begincodespacerange" =>
              // next hex string's byte length fixes the source code width
              stack.clear()
            case "endcodespacerange" =>
              stack.collectFirst { case s: PStr => s }
                .foreach(s => if (codeBytes == 0) codeBytes = math.max(1, math.min(2, s.bytes.length)))
              stack.clear()
            case "endbfchar" =>
              var i = 0
              while (i + 1 < stack.length) {
                (stack(i), stack(i + 1)) match {
                  case (src: PStr, dst: PStr) =>
                    if (codeBytes == 0) codeBytes = math.max(1, math.min(2, src.bytes.length))
                    if (m.size < 65536) m(codeOf(src)) = textOf(dst)
                  case _ => ()
                }
                i += 2
              }
              stack.clear()
            case "endbfrange" =>
              var k = 0
              while (k + 3 <= stack.length) {
                (stack(k), stack(k + 1), stack(k + 2)) match {
                  case (lo: PStr, hi: PStr, dst) =>
                    if (codeBytes == 0) codeBytes = math.max(1, math.min(2, lo.bytes.length))
                    val l = codeOf(lo); val h = math.min(codeOf(hi), l + 65535)
                    dst match {
                      case d: PStr =>
                        val base = textOf(d)
                        var c = l
                        while (c <= h && m.size < 65536) {
                          val t =
                            if (base.isEmpty) ""
                            else base.substring(0, base.length - 1) +
                              (base.charAt(base.length - 1) + (c - l)).toChar
                          m(c) = t
                          c += 1
                        }
                      case PArr(items) =>
                        var c = l
                        var j = 0
                        while (c <= h && j < items.length && m.size < 65536) {
                          items(j) match { case d: PStr => m(c) = textOf(d); case _ => () }
                          c += 1; j += 1
                        }
                      case _ => ()
                    }
                  case _ => ()
                }
                k += 3
              }
              stack.clear()
            case "endcmap" => stack.clear()
            case _ => stack.clear()
          }
          case other =>
            stack += other
            if (stack.length > 3072) stack.remove(0, stack.length - 64)
        }
      }
    }
    ToUnicodeCMap(if (codeBytes == 0) 1 else codeBytes, m.toMap)
  }

  private final class Interp(doc: Doc, resources: PDict) {
    var ctm: Array[Double] = Identity
    val ctmStack = mutable.ArrayBuffer.empty[Array[Double]]
    var tm: Array[Double] = Identity
    var tlm: Array[Double] = Identity
    var inText = false
    var fontSize = 0.0
    var charSpacing = 0.0
    var wordSpacing = 0.0
    var hScale = 1.0
    var leading = 0.0
    var font: FontInfo = FontInfo(type0 = false, None, 0, Array.empty)
    val runs = Vector.newBuilder[TextRun]
    var nRuns = 0

    private val fontCache = mutable.HashMap.empty[String, FontInfo]

    def setFont(name: String, size: Double): Unit = {
      fontSize = size
      font = fontCache.getOrElseUpdate(name, {
        doc.resolve(resources.get("Font").getOrElse(PNull)) match {
          case fonts: PDict =>
            doc.resolve(fonts.get(name).getOrElse(PNull)) match {
              case fd: PDict =>
                val type0 = fd.get("Subtype").contains(PName("Type0"))
                val toUni = doc.resolve(fd.get("ToUnicode").getOrElse(PNull)) match {
                  case ps: PStream =>
                    try Some(parseToUnicodeCMap(doc.decodeStream(ps)))
                    catch { case NonFatal(_) => doc.warn("bad_tounicode"); None }
                  case _ => None
                }
                val firstChar = doc.resolve(fd.get("FirstChar").getOrElse(PNull)) match {
                  case PNum(v) => v.toInt; case _ => 0
                }
                val widths = doc.resolve(fd.get("Widths").getOrElse(PNull)) match {
                  case PArr(items) => items.map(o => doc.resolve(o) match {
                    case PNum(v) => v; case _ => GlyphWidthEm * 1000.0
                  }).toArray
                  case _ => Array.empty[Double]
                }
                FontInfo(type0, toUni, firstChar, widths)
              case _ => FontInfo(type0 = false, None, 0, Array.empty)
            }
          case _ => FontInfo(type0 = false, None, 0, Array.empty)
        }
      })
    }

    /** Decode string bytes through the current font: ToUnicode CMap when
      * present (subset fonts), else Identity UTF-16BE for Type0, else
      * Latin-1 (the standard simple-font encodings' shared core).
      */
    def decodeText(bytes: Array[Byte]): String = font.toUnicode match {
      case Some(cmap) =>
        val step = cmap.codeBytes
        val sb = new java.lang.StringBuilder(bytes.length)
        var i = 0
        while (i + step <= bytes.length) {
          var code = 0; var k = 0
          while (k < step) { code = (code << 8) | (bytes(i + k) & 0xff); k += 1 }
          cmap.map.get(code) match {
            case Some(t) => sb.append(t)
            case None => sb.append(code.toChar) // unmapped: identity fallback
          }
          i += step
        }
        sb.toString
      case None =>
        if (font.type0) { // Identity CMap: UTF-16BE code units
          val sb = new java.lang.StringBuilder(bytes.length / 2)
          var i = 0
          while (i + 1 < bytes.length) {
            sb.append((((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)).toChar)
            i += 2
          }
          sb.toString
        } else new String(bytes, StandardCharsets.ISO_8859_1)
    }

    private def advance(tx: Double): Unit =
      tm = matMul(Array(1.0, 0.0, 0.0, 1.0, tx, 0.0), tm)

    /** Advance width of a shown string. Uses the font's real /Widths table
      * (simple fonts, per char code) when present; the documented 0.5 em
      * estimate otherwise. Word spacing applies to byte code 32 per spec.
      */
    private def textWidth(bytes: Array[Byte], decoded: String): Double = {
      if (!font.type0 && font.widths.nonEmpty) {
        var w = 0.0
        var i = 0
        while (i < bytes.length) {
          val code = bytes(i) & 0xff
          val gi = code - font.firstChar
          val gw =
            if (gi >= 0 && gi < font.widths.length) font.widths(gi)
            else GlyphWidthEm * 1000.0
          w += gw / 1000.0 * fontSize + charSpacing + (if (code == 32) wordSpacing else 0.0)
          i += 1
        }
        w * hScale
      } else {
        var spaces = 0
        var i = 0
        while (i < decoded.length) { if (decoded.charAt(i) == ' ') spaces += 1; i += 1 }
        (decoded.length * GlyphWidthEm * fontSize + decoded.length * charSpacing +
          spaces * wordSpacing) * hScale
      }
    }

    def show(str: PStr): Unit = showParts(Vector(Left(str)))

    /** Show a TJ-style sequence: strings and kern adjustments, emitted as a
      * single run (one origin) with spaces inserted at word-break kerns.
      */
    def showParts(parts: Vector[Either[PStr, Double]]): Unit = {
      if (!inText) return
      val trm = matMul(tm, ctm)
      val x0 = trm(4); val y0 = trm(5)
      val sb = new java.lang.StringBuilder(32)
      var width = 0.0
      parts.foreach {
        case Left(ps) =>
          val t = decodeText(ps.bytes)
          sb.append(t)
          val w = textWidth(ps.bytes, t)
          width += w
          advance(w)
        case Right(adj) =>
          val tx = -adj / 1000.0 * fontSize * hScale
          if (adj <= SpaceKernThousandths && sb.length > 0 && sb.charAt(sb.length - 1) != ' ')
            sb.append(' ')
          width += tx
          advance(tx)
      }
      val text = sb.toString
      if (text.nonEmpty) {
        nRuns += 1
        if (nRuns > MaxRunsPerPage) throw new PdfParseException("budget:runs")
        runs += TextRun(x0, y0, width, fontSize, text)
      }
    }

    def nextLine(): Unit = {
      tlm = matMul(Array(1.0, 0.0, 0.0, 1.0, 0.0, -leading), tlm)
      tm = tlm.clone()
    }
  }

  private def num(o: PObj): Double = o match { case PNum(v) => v; case _ => 0.0 }

  private def interpretContent(doc: Doc, content: Array[Byte], resources: PDict): Vector[TextRun] = {
    val interp = new Interp(doc, resources)
    val lx = new Lexer(content, 0)
    val operands = mutable.ArrayBuffer.empty[PObj]
    while (!lx.atEnd) {
      lx.skipWs()
      if (!lx.atEnd) {
        val obj = parseObject(lx, allowRefs = false, resolveLen = null)
        obj match {
          case PName(n) if n.startsWith("#op:") =>
            val op = n.substring(4)
            op match {
              case "q" => interp.ctmStack += interp.ctm
              case "Q" => if (interp.ctmStack.nonEmpty) { interp.ctm = interp.ctmStack.remove(interp.ctmStack.length - 1) }
              case "cm" if operands.length >= 6 =>
                val m = operands.takeRight(6).map(num).toArray
                interp.ctm = matMul(m, interp.ctm)
              case "BT" =>
                interp.inText = true
                interp.tm = Identity.clone(); interp.tlm = Identity.clone()
              case "ET" => interp.inText = false
              case "Tf" if operands.length >= 2 =>
                val name = operands(operands.length - 2) match { case PName(f) => f; case _ => "" }
                interp.setFont(name, num(operands.last))
              case "Td" if operands.length >= 2 =>
                val tx = num(operands(operands.length - 2)); val ty = num(operands.last)
                interp.tlm = matMul(Array(1.0, 0.0, 0.0, 1.0, tx, ty), interp.tlm)
                interp.tm = interp.tlm.clone()
              case "TD" if operands.length >= 2 =>
                val tx = num(operands(operands.length - 2)); val ty = num(operands.last)
                interp.leading = -ty
                interp.tlm = matMul(Array(1.0, 0.0, 0.0, 1.0, tx, ty), interp.tlm)
                interp.tm = interp.tlm.clone()
              case "Tm" if operands.length >= 6 =>
                interp.tlm = operands.takeRight(6).map(num).toArray
                interp.tm = interp.tlm.clone()
              case "T*" => interp.nextLine()
              case "TL" if operands.nonEmpty => interp.leading = num(operands.last)
              case "Tc" if operands.nonEmpty => interp.charSpacing = num(operands.last)
              case "Tw" if operands.nonEmpty => interp.wordSpacing = num(operands.last)
              case "Tz" if operands.nonEmpty => interp.hScale = num(operands.last) / 100.0
              case "Ts" => () // rise: ignored for layout lines
              case "Tj" if operands.nonEmpty =>
                operands.last match { case s: PStr => interp.show(s); case _ => () }
              case "'" if operands.nonEmpty =>
                interp.nextLine()
                operands.last match { case s: PStr => interp.show(s); case _ => () }
              case "\"" if operands.length >= 3 =>
                interp.wordSpacing = num(operands(operands.length - 3))
                interp.charSpacing = num(operands(operands.length - 2))
                interp.nextLine()
                operands.last match { case s: PStr => interp.show(s); case _ => () }
              case "TJ" if operands.nonEmpty =>
                operands.last match {
                  case PArr(items) =>
                    interp.showParts(items.map {
                      case s: PStr => Left(s)
                      case PNum(v) => Right(v)
                      case _ => Right(0.0)
                    })
                  case _ => ()
                }
              case "BI" => // inline image: skip to EI at a token boundary
                var going = true
                while (going && !lx.atEnd) {
                  if (lx.peek == 'E' && lx.peekAt(1) == 'I' &&
                    (lx.peekAt(2) == -1 || isWs(lx.peekAt(2)) || isDelim(lx.peekAt(2))) &&
                    (lx.pos == 0 || isWs(lx.buf(lx.pos - 1) & 0xff))) {
                    lx.pos += 2; going = false
                  } else lx.pos += 1
                }
              case _ => () // path/color/XObject operators: no text effect
            }
            operands.clear()
          case other =>
            operands += other
            if (operands.length > 512) operands.remove(0, operands.length - 64)
        }
      }
    }
    interp.runs.result()
  }

  // ------------------------------------------------------------------
  // Layout assembly

  /** Baseline-y tolerance (device units) for clustering runs into lines. */
  val LineYTolerance: Double = 2.0

  def assembleLines(runs: Vector[TextRun]): Vector[PdfLine] = {
    if (runs.isEmpty) return Vector.empty
    val sorted = runs.sortBy(r => (-r.y, r.x))
    val lines = Vector.newBuilder[PdfLine]
    var i = 0
    while (i < sorted.length) {
      val lineY = sorted(i).y
      var j = i
      while (j < sorted.length && lineY - sorted(j).y <= LineYTolerance) j += 1
      val lineRuns = sorted.slice(i, j).sortBy(_.x)
      val sb = new java.lang.StringBuilder(64)
      var prevEnd = Double.NaN
      var prevFs = 12.0
      lineRuns.foreach { r =>
        if (!prevEnd.isNaN) {
          val gap = r.x - prevEnd
          if (gap > JoinGapEm * math.max(prevFs, 1.0) && sb.length > 0 &&
            sb.charAt(sb.length - 1) != ' ' && !r.text.startsWith(" ")) sb.append(' ')
        }
        sb.append(r.text)
        prevEnd = r.x + r.width
        prevFs = if (r.fontSize > 0) r.fontSize else prevFs
      }
      lines += PdfLine(lineY, lineRuns.head.x, sb.toString)
      i = j
    }
    lines.result()
  }

  // ------------------------------------------------------------------
  // Public API

  /** Parse a PDF and extract per-page layout text.
    * Throws [[PdfParseException]] (message is a stable error code) on
    * non-PDF payloads and unrecoverable structure damage; structural
    * oddities that CAN be recovered are reported in `warnings` instead.
    */
  def parse(bytes: Array[Byte]): PdfDoc = {
    if (bytes == null || bytes.length < 8) throw new PdfParseException("not_pdf")
    if (!(bytes(0) == '%' && bytes(1) == 'P' && bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == '-'))
      throw new PdfParseException("not_pdf")
    var vEnd = 5
    while (vEnd < math.min(16, bytes.length) && !isWs(bytes(vEnd) & 0xff)) vEnd += 1
    val version = new String(bytes, 5, vEnd - 5, StandardCharsets.ISO_8859_1)

    val doc = new Doc(bytes)
    doc.load()
    val raw = collectPages(doc)
    val pages = raw.zipWithIndex.map { case (rp, idx) =>
      val content: Array[Byte] = doc.resolve(rp.dict.get("Contents").getOrElse(PNull)) match {
        case ps: PStream => doc.decodeStream(ps)
        case PArr(items) =>
          val bos = new java.io.ByteArrayOutputStream()
          items.foreach { it =>
            doc.resolve(it) match {
              case ps: PStream =>
                val d = doc.decodeStream(ps)
                bos.write(d, 0, d.length)
                bos.write('\n') // content segments join at a token boundary
              case _ => ()
            }
          }
          bos.toByteArray
        case _ => Array.empty[Byte]
      }
      val runs =
        try interpretContent(doc, content, rp.resources)
        catch {
          case e: PdfParseException if e.getMessage.startsWith("budget:") => throw e
          case NonFatal(_) => doc.warn(s"content_error:$idx"); Vector.empty[TextRun]
        }
      val (w, h) = rp.mediaBox match {
        case Some(PArr(Vector(PNum(x0), PNum(y0), PNum(x1), PNum(y1)))) => (x1 - x0, y1 - y0)
        case _ => (612.0, 792.0)
      }
      PdfPage(idx, w, h, assembleLines(runs))
    }
    PdfDoc(version, pages, doc.cache.size, doc.warnings.toVector)
  }

  /** Convenience: full-document text (pages joined by a blank line). */
  def extractText(bytes: Array[Byte]): String = parse(bytes).text
}
