package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** TextDecoder-exact decode semantics (verified against the reference's
  * real sniff+decode by the byte-decode differential, whose cases
  * PinnedCorpusSpec replays; these pin the named behaviors one by one).
  */
class WhatwgDecodeSpec extends AnyFunSuite {

  private def dec(bytes: Array[Int], transport: Option[String] = None): (String, String, String) = {
    val (text, sniff) =
      EncodingSniff.decodeHtmlBytes(bytes.map(_.toByte), transport)
    (text, sniff.encoding, sniff.source)
  }

  test("malformed UTF-8 replaces per maximal subpart (lone surrogate = three U+FFFD)") {
    val (text, enc, _) = dec(Array('a', 0xed, 0xa0, 0x80, 'z'), Some("utf-8"))
    assert(enc == "utf-8")
    assert(text == "a���z")
  }

  test("truncated UTF-8 sequence at EOF yields one replacement") {
    val (text, _, _) = dec(Array('a', 0xc3), Some("utf-8"))
    assert(text == "a�")
  }

  test("overlong and out-of-range sequences replace like TextDecoder") {
    assert(dec(Array(0xc0, 0xaf), Some("utf-8"))._1 == "��")
    assert(dec(Array(0xf4, 0x90, 0x80, 0x80), Some("utf-8"))._1 == "����")
  }

  test("windows-1252 maps the high row per WHATWG incl. C1 fallthrough slots") {
    val (text, enc, _) = dec(Array(0x80, 0x81, 0x98, 0x9d, 0xff), Some("windows-1252"))
    assert(enc == "windows-1252")
    assert(text == "\u20ac\u0081\u02dc\u009d\u00ff")
  }

  test("x-user-defined decoder maps high bytes into U+F780-F7FF") {
    // the LABEL is rejected by canonicalization in both engines (node's
    // TextDecoder throws for it), so exercise the decoder directly
    val d = new EncodingSniff.WhatwgStreamDecoder("x-user-defined")
    val sb = new java.lang.StringBuilder
    d.feed(Array('a'.toByte, 0x80.toByte, 0xff.toByte), 0, 3, sb)
    d.finish(sb)
    assert(sb.toString == "a\uf780\uf7ff")
  }

  test("utf-16le replaces lone surrogates and trailing odd bytes") {
    // utf-16 TRANSPORT labels demote to utf-8 (reference canonicalizeLabel),
    // so utf-16le is reached via BOM; then 'a', lone lead 0xD800, 'b', and
    // a trailing odd byte
    val (text, _, _) = dec(Array(0xff, 0xfe, 0x61, 0x00, 0x00, 0xd8, 0x62, 0x00, 0x7a))
    assert(text == "a�b�")
  }

  test("meta prescan: duplicate attribute takes the LAST value") {
    val bytes = "<meta charset charset='utf-8'>".getBytes("ISO-8859-1").map(_.toInt)
    val (_, enc, source) = dec(bytes)
    assert(enc == "utf-8" && source == "meta")
  }
}
