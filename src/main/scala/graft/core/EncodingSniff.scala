package graft.core

import java.nio.{ByteBuffer, CharBuffer}
import java.nio.charset.{Charset, CharsetDecoder, CodingErrorAction, StandardCharsets}

/** HTML encoding sniffing: BOM > transport label > `<meta charset>` prescan
  * > windows-1252 default (reference: src/internal/encoding/sniff.ts:271-292).
  * Label canonicalization maps latin1 aliases to windows-1252 and demotes
  * meta/transport utf-16 labels to utf-8 (sniff.ts:48-77).
  */
object EncodingSniff {

  final case class SniffResult(encoding: String, source: String)

  private val Windows1252Aliases =
    Set("iso-8859-1", "iso8859-1", "latin1", "latin-1", "us-ascii")

  /** Common WHATWG label -> canonical encoding name. Non-exhaustive: labels
    * outside this map fall back to the JVM charset registry.
    */
  private val LabelCanonical: Map[String, String] = Map(
    "utf-8" -> "utf-8", "utf8" -> "utf-8", "unicode-1-1-utf-8" -> "utf-8",
    "windows-1252" -> "windows-1252", "x-cp1252" -> "windows-1252",
    "cp1252" -> "windows-1252", "ansi_x3.4-1968" -> "windows-1252",
    "ascii" -> "windows-1252", "cp819" -> "windows-1252",
    "ibm819" -> "windows-1252", "iso-ir-100" -> "windows-1252",
    "iso8859-1" -> "windows-1252", "iso88591" -> "windows-1252",
    "iso_8859-1" -> "windows-1252", "l1" -> "windows-1252",
    "utf-16" -> "utf-16le", "utf-16le" -> "utf-16le", "utf-16be" -> "utf-16be",
    "windows-1250" -> "windows-1250", "windows-1251" -> "windows-1251",
    "windows-1253" -> "windows-1253", "windows-1254" -> "windows-1254",
    "windows-1255" -> "windows-1255", "windows-1256" -> "windows-1256",
    "windows-1257" -> "windows-1257", "windows-1258" -> "windows-1258",
    "iso-8859-2" -> "iso-8859-2", "iso-8859-3" -> "iso-8859-3",
    "iso-8859-4" -> "iso-8859-4", "iso-8859-5" -> "iso-8859-5",
    "iso-8859-6" -> "iso-8859-6", "iso-8859-7" -> "iso-8859-7",
    "iso-8859-8" -> "iso-8859-8", "iso-8859-10" -> "iso-8859-10",
    "iso-8859-13" -> "iso-8859-13", "iso-8859-14" -> "iso-8859-14",
    "iso-8859-15" -> "iso-8859-15", "koi8-r" -> "koi8-r", "koi8-u" -> "koi8-u",
    "shift_jis" -> "shift_jis", "shift-jis" -> "shift_jis", "sjis" -> "shift_jis",
    "euc-jp" -> "euc-jp", "iso-2022-jp" -> "iso-2022-jp",
    "gbk" -> "gbk", "gb2312" -> "gbk", "gb18030" -> "gb18030",
    "big5" -> "big5", "euc-kr" -> "euc-kr"
  )

  private def stripQuotes(value: String): String = {
    val t = value.trim
    if ((t.startsWith("\"") && t.endsWith("\"") && t.length >= 2) ||
      (t.startsWith("'") && t.endsWith("'") && t.length >= 2))
      t.substring(1, t.length - 1).trim
    else t
  }

  /** Canonicalize an encoding label; null when unknown. `source` is one of
    * bom/transport/meta/default (utf-16 demotion applies to meta/transport).
    */
  def canonicalizeLabel(label: String, source: String): String = {
    val normalized = stripQuotes(label).toLowerCase.trim
    if (normalized.isEmpty) return null
    if (Windows1252Aliases.contains(normalized)) return "windows-1252"
    if ((source == "meta" || source == "transport") && normalized.startsWith("utf-16"))
      return "utf-8"
    val canonical = LabelCanonical.get(normalized).orNull
    val resolved =
      if (canonical != null) canonical
      else {
        try Charset.forName(normalized).name.toLowerCase
        catch { case _: Exception => return null }
      }
    if (resolved == "iso-8859-1") "windows-1252"
    else if ((source == "meta" || source == "transport") && resolved.startsWith("utf-16"))
      "utf-8"
    else resolved
  }

  private def detectBom(bytes: Array[Byte]): String = {
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef && (bytes(1) & 0xff) == 0xbb &&
      (bytes(2) & 0xff) == 0xbf) "utf-8"
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff)
      "utf-16be"
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe)
      "utf-16le"
    else null
  }

  private def decodeLatin1(bytes: Array[Byte], limit: Int): String = {
    val n = math.min(bytes.length, limit)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append((bytes(i) & 0xff).toChar); i += 1 }
    sb.toString
  }

  private def stripHtmlComments(input: String): String = {
    val out = new java.lang.StringBuilder
    var cursor = 0
    var done = false
    while (!done) {
      val start = input.indexOf("<!--", cursor)
      if (start < 0) {
        out.append(input.substring(cursor))
        done = true
      } else {
        out.append(input.substring(cursor, start))
        val end = input.indexOf("-->", start + 4)
        if (end < 0) done = true
        else cursor = end + 3
      }
    }
    out.toString
  }

  private def extractMetaTags(scan: String): List[String] = {
    val tags = List.newBuilder[String]
    var index = 0
    var break = false
    while (!break && index < scan.length) {
      val tagStart = scan.indexOf('<', index)
      if (tagStart < 0 || tagStart + 2 > scan.length) break = true
      else {
        var cursor = tagStart + 1
        var quote: Char = 0
        var closed = false
        while (!closed && cursor < scan.length) {
          val c = scan.charAt(cursor)
          if (quote == 0 && (c == '"' || c == '\'')) { quote = c; cursor += 1 }
          else if (quote != 0 && c == quote) { quote = 0; cursor += 1 }
          else if (quote == 0 && c == '>') {
            val tagText = scan.substring(tagStart, cursor + 1)
            if (tagText.length > 5 &&
              tagText.substring(0, 5).equalsIgnoreCase("<meta") &&
              "\t\n\f\r />".indexOf(tagText.charAt(5)) >= 0)
              tags += tagText
            index = cursor + 1
            closed = true
          } else cursor += 1
        }
        if (!closed) break = true
      }
    }
    tags.result()
  }

  private def parseMetaAttributes(tag: String): Map[String, String] = {
    val body = tag
      .replaceFirst("(?i)^<meta", "")
      .replaceFirst(">$", "")
    // reference parseMetaAttributes uses Map.set: a DUPLICATE attribute
    // name overwrites the earlier one (last wins), unlike the tokenizer's
    // first-wins rule
    var attrs = Map.empty[String, String]
    var index = 0
    def isWs(c: Char) = c == '\t' || c == '\n' || c == '\f' || c == '\r' || c == ' '
    var break = false
    while (!break && index < body.length) {
      while (index < body.length && (isWs(body.charAt(index)) || body.charAt(index) == '/'))
        index += 1
      if (index >= body.length) break = true
      else {
        val nameStart = index
        while (index < body.length && !isWs(body.charAt(index)) &&
          body.charAt(index) != '/' && body.charAt(index) != '>' &&
          body.charAt(index) != '=') index += 1
        val rawName = body.substring(nameStart, index).toLowerCase
        if (rawName.isEmpty) break = true
        else {
          while (index < body.length && isWs(body.charAt(index))) index += 1
          var value = ""
          if (index < body.length && body.charAt(index) == '=') {
            index += 1
            while (index < body.length && isWs(body.charAt(index))) index += 1
            if (index < body.length &&
              (body.charAt(index) == '"' || body.charAt(index) == '\'')) {
              val quote = body.charAt(index)
              index += 1
              val valueStart = index
              while (index < body.length && body.charAt(index) != quote) index += 1
              if (index >= body.length) return Map.empty
              value = body.substring(valueStart, index)
              index += 1
            } else {
              val valueStart = index
              while (index < body.length && !isWs(body.charAt(index)) &&
                body.charAt(index) != '>') index += 1
              value = body.substring(valueStart, index)
            }
          }
          attrs = attrs.updated(rawName, value)
        }
      }
    }
    attrs
  }

  // JS \s (the reference regex's class) includes NBSP; the scan text is
  // latin1-decoded so only the one-byte members can occur
  private val CharsetInContent =
    """(?i)charset[\t\n\x0B\f\r \xA0]*=[\t\n\x0B\f\r \xA0]*("[^"]*"|'[^']*'|[^\t\n\x0B\f\r \xA0;"'>]+)""".r

  private def sniffMetaCharset(bytes: Array[Byte], maxPrescanBytes: Int): String = {
    val scan = stripHtmlComments(decodeLatin1(bytes, maxPrescanBytes))
    extractMetaTags(scan).foreach { tag =>
      val attrs = parseMetaAttributes(tag)
      attrs.get("charset").filter(_.nonEmpty).foreach { direct =>
        val canonical = canonicalizeLabel(direct, "meta")
        if (canonical != null) return canonical
      }
      if (attrs.get("http-equiv").exists(_.equalsIgnoreCase("content-type"))) {
        attrs.get("content").foreach { content =>
          CharsetInContent.findFirstMatchIn(content).foreach { m =>
            val canonical = canonicalizeLabel(stripQuotes(m.group(1)), "meta")
            if (canonical != null) return canonical
          }
        }
      }
    }
    null
  }

  def sniffHtmlEncoding(
      bytes: Array[Byte],
      transportEncodingLabel: Option[String] = None,
      maxPrescanBytes: Int = 16384,
      defaultEncoding: String = "windows-1252"
  ): SniffResult = {
    val bom = detectBom(bytes)
    if (bom != null) return SniffResult(bom, "bom")
    transportEncodingLabel.foreach { label =>
      val transport = canonicalizeLabel(label, "transport")
      if (transport != null) return SniffResult(transport, "transport")
    }
    val meta = sniffMetaCharset(bytes, maxPrescanBytes)
    if (meta != null) return SniffResult(meta, "meta")
    val fallback = canonicalizeLabel(defaultEncoding, "default")
    SniffResult(if (fallback != null) fallback else "windows-1252", "default")
  }

  // --- WHATWG Encoding Standard decoders (TextDecoder semantics) ---------
  // The reference decodes with `new TextDecoder(encoding)` — its error
  // handling differs from the JVM's: malformed UTF-8 replaces each maximal
  // subpart per byte-class (so a lone surrogate EDA080 yields THREE U+FFFD
  // where the JVM yields one), windows-1252 maps the five undefined bytes
  // to their C1 controls instead of U+FFFD, and x-user-defined maps
  // 0x80-0xFF into U+F780-F7FF. The four encodings the sniff can produce,
  // x-user-defined, and the two mapped labels the JVM has no charset for
  // (iso-8859-10, iso-8859-14) are implemented exactly; anything else
  // falls back to the JVM registry.

  /** windows-1252 high row 0x80-0x9F (WHATWG index; identity elsewhere). */
  private val Win1252Hi: Array[Char] = Array(
    0x20ac, 0x0081, 0x201a, 0x0192, 0x201e, 0x2026, 0x2020, 0x2021,
    0x02c6, 0x2030, 0x0160, 0x2039, 0x0152, 0x008d, 0x017d, 0x008f,
    0x0090, 0x2018, 0x2019, 0x201c, 0x201d, 0x2022, 0x2013, 0x2014,
    0x02dc, 0x2122, 0x0161, 0x203a, 0x0153, 0x009d, 0x017e, 0x0178
  ).map(_.toChar)

  /** Bytes 0x80-0xFF of the single-byte encodings decoded here (below 0x80
    * each is ASCII), one char per byte. The ISO 8859 parts keep the C1
    * controls at 0x80-0x9F; their 0xA0-0xFF rows were generated from
    * CPython's `iso8859_10` and `iso8859_14` codecs, which follow the same
    * ISO mappings as the Encoding Standard's indexes.
    */
  private val SingleByteHigh: Map[String, String] = {
    val c1 = (0x80 until 0xa0).map(_.toChar).mkString
    Map(
      "windows-1252" -> (Win1252Hi.mkString + (0xa0 to 0xff).map(_.toChar).mkString),
      "x-user-defined" -> (0xf780 to 0xf7ff).map(_.toChar).mkString,
      "iso-8859-10" -> (c1 +
        "\u00a0\u0104\u0112\u0122\u012a\u0128\u0136\u00a7" +
        "\u013b\u0110\u0160\u0166\u017d\u00ad\u016a\u014a" +
        "\u00b0\u0105\u0113\u0123\u012b\u0129\u0137\u00b7" +
        "\u013c\u0111\u0161\u0167\u017e\u2015\u016b\u014b" +
        "\u0100\u00c1\u00c2\u00c3\u00c4\u00c5\u00c6\u012e" +
        "\u010c\u00c9\u0118\u00cb\u0116\u00cd\u00ce\u00cf" +
        "\u00d0\u0145\u014c\u00d3\u00d4\u00d5\u00d6\u0168" +
        "\u00d8\u0172\u00da\u00db\u00dc\u00dd\u00de\u00df" +
        "\u0101\u00e1\u00e2\u00e3\u00e4\u00e5\u00e6\u012f" +
        "\u010d\u00e9\u0119\u00eb\u0117\u00ed\u00ee\u00ef" +
        "\u00f0\u0146\u014d\u00f3\u00f4\u00f5\u00f6\u0169" +
        "\u00f8\u0173\u00fa\u00fb\u00fc\u00fd\u00fe\u0138"),
      "iso-8859-14" -> (c1 +
        "\u00a0\u1e02\u1e03\u00a3\u010a\u010b\u1e0a\u00a7" +
        "\u1e80\u00a9\u1e82\u1e0b\u1ef2\u00ad\u00ae\u0178" +
        "\u1e1e\u1e1f\u0120\u0121\u1e40\u1e41\u00b6\u1e56" +
        "\u1e81\u1e57\u1e83\u1e60\u1ef3\u1e84\u1e85\u1e61" +
        "\u00c0\u00c1\u00c2\u00c3\u00c4\u00c5\u00c6\u00c7" +
        "\u00c8\u00c9\u00ca\u00cb\u00cc\u00cd\u00ce\u00cf" +
        "\u0174\u00d1\u00d2\u00d3\u00d4\u00d5\u00d6\u1e6a" +
        "\u00d8\u00d9\u00da\u00db\u00dc\u00dd\u0176\u00df" +
        "\u00e0\u00e1\u00e2\u00e3\u00e4\u00e5\u00e6\u00e7" +
        "\u00e8\u00e9\u00ea\u00eb\u00ec\u00ed\u00ee\u00ef" +
        "\u0175\u00f1\u00f2\u00f3\u00f4\u00f5\u00f6\u1e6b" +
        "\u00f8\u00f9\u00fa\u00fb\u00fc\u00fd\u0177\u00ff"))
  }

  /** Stateful WHATWG decoder — feed chunks, then finish; usable both for
    * whole-buffer decode and the streaming path (state survives chunk
    * boundaries exactly like `TextDecoder(..., {stream: true})`).
    */
  final class WhatwgStreamDecoder(encoding: String) {
    // a single-byte encoding's 0x80-0xFF chars; null for the others
    private val high: String = SingleByteHigh.getOrElse(encoding, null)
    private val mode: Int = encoding match {
      case "utf-8"           => 0
      case "utf-16le"        => 2
      case "utf-16be"        => 3
      case _ if high != null => 1
      case _                 => 4
    }
    def isWhatwgNative: Boolean = mode != 4
    // utf-8 state (spec "UTF-8 decoder")
    private var cp = 0
    private var seen = 0
    private var needed = 0
    private var lower = 0x80
    private var upper = 0xbf
    // utf-16 state: pending low byte (-1 none) + pending lead surrogate
    private var pendingByte = -1
    private var pendingLead = -1

    def feed(bytes: Array[Byte], from: Int, until: Int, out: java.lang.StringBuilder): Unit = {
      var i = from
      mode match {
        case 0 =>
          while (i < until) {
            val b = bytes(i) & 0xff
            if (needed == 0) {
              if (b <= 0x7f) out.append(b.toChar)
              else if (b >= 0xc2 && b <= 0xdf) { needed = 1; cp = b & 0x1f }
              else if (b >= 0xe0 && b <= 0xef) {
                if (b == 0xe0) lower = 0xa0
                else if (b == 0xed) upper = 0x9f
                needed = 2; cp = b & 0xf
              } else if (b >= 0xf0 && b <= 0xf4) {
                if (b == 0xf0) lower = 0x90
                else if (b == 0xf4) upper = 0x8f
                needed = 3; cp = b & 0x7
              } else out.append('�')
              i += 1
            } else if (b < lower || b > upper) {
              // error: emit replacement, reset, REPROCESS this byte
              cp = 0; seen = 0; needed = 0; lower = 0x80; upper = 0xbf
              out.append('�')
            } else {
              cp = (cp << 6) | (b & 0x3f)
              lower = 0x80; upper = 0xbf
              seen += 1
              if (seen == needed) {
                if (cp < 0x10000) out.append(cp.toChar)
                else {
                  val v = cp - 0x10000
                  out.append((0xd800 + (v >> 10)).toChar)
                  out.append((0xdc00 + (v & 0x3ff)).toChar)
                }
                cp = 0; seen = 0; needed = 0
              }
              i += 1
            }
          }
        case 1 =>
          while (i < until) {
            val b = bytes(i) & 0xff
            out.append(if (b < 0x80) b.toChar else high.charAt(b - 0x80))
            i += 1
          }
        case 2 | 3 =>
          while (i < until) {
            val b = bytes(i) & 0xff
            if (pendingByte < 0) { pendingByte = b; i += 1 }
            else {
              val unit =
                if (mode == 2) pendingByte | (b << 8) else (pendingByte << 8) | b
              pendingByte = -1
              i += 1
              emitUtf16Unit(unit, out)
            }
          }
        case _ =>
          // non-WHATWG-native: callers use the JVM charset path instead
          throw new IllegalStateException(s"not a native WHATWG decoder: $encoding")
      }
    }

    /** WHATWG "shared utf-16" surrogate handling: lone surrogates become
      * U+FFFD; an interrupted lead is replaced and the interrupting unit is
      * reprocessed.
      */
    private def emitUtf16Unit(unit: Int, out: java.lang.StringBuilder): Unit = {
      if (pendingLead >= 0) {
        if (unit >= 0xdc00 && unit <= 0xdfff) {
          out.append(pendingLead.toChar).append(unit.toChar)
          pendingLead = -1
          return
        }
        out.append('�')
        pendingLead = -1
        // fall through: reprocess the current unit
      }
      if (unit >= 0xd800 && unit <= 0xdbff) pendingLead = unit
      else if (unit >= 0xdc00 && unit <= 0xdfff) out.append('�')
      else out.append(unit.toChar)
    }

    def finish(out: java.lang.StringBuilder): Unit = {
      if (needed != 0) { out.append('�'); needed = 0; seen = 0; cp = 0 }
      if (pendingByte >= 0 || pendingLead >= 0) out.append('�')
      pendingByte = -1; pendingLead = -1
    }
  }

  /** The one bytes-to-text step behind [[decodeHtmlBytes]] (a whole buffer
    * is the one-chunk case) and [[Streaming.decodeStreamToText]] (chunks):
    * sniffs `head`, skips the sniffed BOM, decodes with the WHATWG decoder
    * where the encoding has one and with the JVM charset otherwise (UTF-8
    * when the JVM lacks it), keeping decoder state across chunk boundaries,
    * and strips a leading U+FEFF only for utf-8 and utf-16 (TextDecoder
    * semantics). Feed `head` first, then any further chunks, the last one
    * with `last = true`; then read [[text]].
    */
  private[core] final class HtmlByteDecoder(head: Array[Byte], transportEncodingLabel: Option[String]) {
    val sniff: SniffResult = sniffHtmlEncoding(head, transportEncodingLabel)
    private val bomLength = sniff.source match {
      case "bom" if sniff.encoding == "utf-8" => 3
      case "bom"                              => 2
      case _                                  => 0
    }
    private var toSkip = bomLength
    private val whatwg = new WhatwgStreamDecoder(sniff.encoding)
    private val jvm: CharsetDecoder =
      if (whatwg.isWhatwgNative) null
      else {
        val charset =
          try Charset.forName(sniff.encoding)
          catch { case _: Exception => StandardCharsets.UTF_8 }
        charset.newDecoder()
          .onMalformedInput(CodingErrorAction.REPLACE)
          .onUnmappableCharacter(CodingErrorAction.REPLACE)
      }
    private val out = new java.lang.StringBuilder(head.length)
    // JVM path: the undecoded tail of a sequence a chunk boundary cut
    private var pending: ByteBuffer = null

    def feed(chunk: Array[Byte], last: Boolean): Unit = {
      val from = math.min(toSkip, chunk.length)
      toSkip -= from
      if (jvm == null) {
        whatwg.feed(chunk, from, chunk.length, out)
        if (last) whatwg.finish(out)
      } else {
        val in =
          if (pending == null) ByteBuffer.wrap(chunk, from, chunk.length - from)
          else ByteBuffer.allocate(pending.remaining + chunk.length - from)
            .put(pending).put(chunk, from, chunk.length - from).flip()
        val cb = CharBuffer.allocate(in.remaining + 16)
        def drain(): Unit = { cb.flip(); out.append(cb); cb.clear() }
        while (jvm.decode(in, cb, last).isOverflow) drain()
        if (last) while (jvm.flush(cb).isOverflow) drain()
        drain()
        pending =
          if (in.hasRemaining) ByteBuffer.allocate(in.remaining).put(in).flip() else null
      }
    }

    def text: String =
      if (bomLength == 0 && out.length > 0 && out.charAt(0) == '\uFEFF' &&
        (sniff.encoding == "utf-8" || sniff.encoding == "utf-16le" ||
          sniff.encoding == "utf-16be")) out.substring(1)
      else out.toString
  }

  /** Sniff and decode a whole buffer ([[HtmlByteDecoder]] with one chunk). */
  def decodeHtmlBytes(
      bytes: Array[Byte],
      transportEncodingLabel: Option[String] = None
  ): (String, SniffResult) = {
    val decoder = new HtmlByteDecoder(bytes, transportEncodingLabel)
    decoder.feed(bytes, last = true)
    (decoder.text, decoder.sniff)
  }
}
