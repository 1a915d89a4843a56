package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Chunked-byte ingestion parity (reference test/control/stream-agent):
  * chunked decode must equal whole-buffer decode for any chunking, including
  * multi-byte sequences straddling chunk boundaries; budgets must throw
  * BudgetExceededException.
  */
class StreamingDecodeSpec extends AnyFunSuite {

  private def chunksOf(bytes: Array[Byte], size: Int): Iterator[Array[Byte]] =
    bytes.grouped(size)

  test("chunked decode equals whole-buffer parse for every chunk size") {
    // (bytes, transport label, the visible text where an input pins it)
    val inputs: Seq[(Array[Byte], Option[String], Option[String])] = Seq(
      ("<meta charset=utf-8><p>café 中文 &amp; plain</p><pre>a\r\nb</pre>".getBytes("UTF-8"),
        None, None),
      // two mapped labels the JVM has no charset for, decoded from tables
      ("<meta charset=iso-8859-10><p>".getBytes("US-ASCII") :+ 0xA1.toByte, None, Some("\u0104")),
      ("<meta charset=iso-8859-14><p>".getBytes("US-ASCII") :+ 0xA1.toByte, None, Some("\u1e02")),
      // gb18030's encoding of U+FEFF leads: TextDecoder keeps it (it strips a
      // leading U+FEFF only for utf-8 and utf-16)
      (Array(0x84, 0x31, 0x95, 0x33).map(_.toByte) ++ "<p>x</p>".getBytes("US-ASCII"),
        Some("gb18030"), None))
    for ((bytes, label, text) <- inputs) {
      val whole = HtmlParser.parseBytes(bytes, ParseOptions(transportEncodingLabel = label))
      text.foreach(t => assert(VisibleText.ofDocument(whole) == t))
      for (size <- Seq(1, 2, 3, 7, 16, 1024)) {
        val streamed = Streaming.parseStream(chunksOf(bytes, size), transportEncodingLabel = label)
        assert(Serializer.serialize(streamed) == Serializer.serialize(whole),
          s"${new String(bytes, "ISO-8859-1")} chunk size $size")
        text.foreach(t => assert(VisibleText.ofDocument(streamed) == t, s"$t chunk size $size"))
      }
    }
  }

  test("utf-8 BOM is honored across chunk boundaries") {
    val bytes = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
      "<p>x</p>".getBytes("UTF-8")
    for (size <- Seq(1, 2, 4)) {
      val tree = Streaming.parseStream(chunksOf(bytes, size))
      assert(VisibleText.ofDocument(tree) == "x", s"chunk size $size")
    }
  }

  test("windows-1252 default decoding applies to raw high bytes") {
    val bytes = Array[Byte]('<', 'p', '>', 0xE9.toByte, '<', '/', 'p', '>')
    val tree = Streaming.parseStream(chunksOf(bytes, 2))
    assert(VisibleText.ofDocument(tree) == "é")
  }

  test("transport label overrides the default") {
    val bytes = "<p>café</p>".getBytes("UTF-8")
    val d = Streaming.decodeStreamToText(chunksOf(bytes, 3), Some("utf-8"))
    assert(d.sniff.encoding == "utf-8" && d.sniff.source == "transport")
    assert(d.text.contains("café"))
  }

  test("maxInputBytes budget throws BudgetExceededException") {
    val bytes = ("<p>" + "x" * 1000 + "</p>").getBytes("UTF-8")
    val e = intercept[BudgetExceededException] {
      Streaming.parseStream(chunksOf(bytes, 100),
        ParseOptions(budgets = Some(Budgets(maxInputBytes = Some(500)))))
    }
    // checked per chunk: the sixth 100-byte chunk is the first past 500
    assert(e.payload == BudgetExceededPayload("maxInputBytes", 500L, 600L))
  }

  test("parseBytes maxInputBytes trips only above the limit") {
    val bytes = ("<p>" + "x" * 1000 + "</p>").getBytes("UTF-8")
    def parse(limit: Int) =
      HtmlParser.parseBytes(bytes, ParseOptions(budgets = Some(Budgets(maxInputBytes = Some(limit)))))
    val e = intercept[BudgetExceededException](parse(1006))
    assert(e.payload == BudgetExceededPayload("maxInputBytes", 1006L, 1007L))
    assert(VisibleText.ofDocument(parse(1007)) == "x" * 1000)
  }

  test("tokenizeStream yields the same tokens as tokenize") {
    val html = "<a href=x>T</a>&copy;"
    val bytes = html.getBytes("UTF-8")
    val streamed = Streaming.tokenizeStream(chunksOf(bytes, 3)).toVector
    assert(streamed == TokenizeApi.tokenize(html).tokens)
  }

  test("maxBufferedBytes bounds chunks, not cumulative decoded text") {
    // reference semantics (mod.ts decodeStreamToText): post-sniff the budget
    // applies to each individual chunk, so a long stream of tiny chunks is
    // accepted no matter how large the decoded document grows
    val bytes = ("<p>" + "x" * 100000 + "</p>").getBytes("UTF-8")
    val d = Streaming.decodeStreamToText(chunksOf(bytes, 1024),
      budgets = Some(Budgets(maxBufferedBytes = Some(16384))))
    assert(d.text.length > 100000)
  }

  test("maxBufferedBytes rejects an oversized pre-sniff head buffer") {
    val bytes = ("<p>" + "x" * 9000 + "</p>").getBytes("UTF-8")
    val e = intercept[BudgetExceededException] {
      Streaming.decodeStreamToText(chunksOf(bytes, 8192),
        budgets = Some(Budgets(maxBufferedBytes = Some(8192))))
    }
    // the second chunk would grow the head buffer to all 9007 bytes
    assert(e.payload == BudgetExceededPayload("maxBufferedBytes", 8192L, 9007L))
  }

  test("maxBufferedBytes rejects an oversized post-sniff chunk") {
    // 16 KiB prescan fills exactly, then one 20000-byte chunk arrives
    val bytes = ("x" * (16384 + 20000)).getBytes("UTF-8")
    val chunks = Iterator(bytes.slice(0, 8192), bytes.slice(8192, 16384),
      bytes.slice(16384, bytes.length))
    val e = intercept[BudgetExceededException] {
      Streaming.decodeStreamToText(chunks,
        budgets = Some(Budgets(maxBufferedBytes = Some(16384))))
    }
    assert(e.payload == BudgetExceededPayload("maxBufferedBytes", 16384L, 20000L))
  }

  test("tokenizeStream honors decode budgets") {
    val bytes = ("<p>" + "x" * 1000 + "</p>").getBytes("UTF-8")
    val e = intercept[BudgetExceededException] {
      Streaming.tokenizeStream(chunksOf(bytes, 100),
        budgets = Some(Budgets(maxInputBytes = Some(500)))).toVector
    }
    assert(e.payload == BudgetExceededPayload("maxInputBytes", 500L, 600L))
  }
}
