package graft.core

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Pdf, PdfGen, PdfParseException}

/** PDF parser + layout extraction: synthetic round-trips across every
  * writer variant (classic/modern xref, Flate/raw, Tj / ' / TJ show
  * styles), hand-crafted structural edge cases, and poison-input guards.
  */
class PdfSpec extends AnyFunSuite {

  private def ascii(s: String): Array[Byte] = s.getBytes(StandardCharsets.ISO_8859_1)

  // ------------------------------------------------------------------
  // synthetic round-trip: text closed-form across all structural variants

  test("synthetic PDFs round-trip to the closed-form text (ids 0..179)") {
    for (id <- 0L until 180L) {
      if (PdfGen.isEncrypted(id)) {
        // encrypted variant: stable poison code, never garbage text
        val e = intercept[PdfParseException](Pdf.parse(PdfGen.syntheticPdf(id)))
        assert(e.getMessage == "encrypted", s"id=$id code=${e.getMessage}")
      } else {
        val doc = Pdf.parse(PdfGen.syntheticPdf(id))
        assert(doc.pages.length == PdfGen.nPages(id), s"id=$id pages")
        assert(doc.text == PdfGen.expectedText(id), s"id=$id text")
        assert(doc.warnings.isEmpty, s"id=$id warnings: ${doc.warnings}")
      }
    }
  }

  test("DCT image XObject variant: binary JPEG payload with endstream decoy is stepped over") {
    // id 1 embeds the image (classic, %17==1): wire carries /DCTDecode and
    // the decoy, extraction is unaffected and warning-free (the pixel data
    // is never decoded — an unsupported-filter warning would mean the
    // interpreter wrongly tried)
    assert(PdfGen.hasDctImage(1L))
    val wire = new String(PdfGen.syntheticPdf(1L), StandardCharsets.ISO_8859_1)
    assert(wire.contains("/Filter /DCTDecode"))
    assert(wire.sliding("endstream".length).count(_ == "endstream") > 3) // decoys present
    // id 52 is the uncompressed-classic image variant: the Do operator is
    // readable on the wire there (id 1's content is flate-compressed)
    assert(PdfGen.hasDctImage(52L))
    val wire52 = new String(PdfGen.syntheticPdf(52L), StandardCharsets.ISO_8859_1)
    assert(wire52.contains("/Im0 Do"))
    for (id <- Seq(1L, 52L)) {
      val doc = Pdf.parse(PdfGen.syntheticPdf(id))
      assert(doc.text == PdfGen.expectedText(id), s"id=$id")
      assert(doc.warnings.isEmpty, doc.warnings.mkString(","))
    }
  }

  test("encrypted trailer is refused before any stream decode") {
    assert(PdfGen.isEncrypted(5L))
    val wire = new String(PdfGen.syntheticPdf(5L), StandardCharsets.ISO_8859_1)
    assert(wire.contains("/Encrypt 5 0 R") && wire.contains("/Filter /Standard"))
    val e = intercept[PdfParseException](Pdf.parse(PdfGen.syntheticPdf(5L)))
    assert(e.getMessage == "encrypted")
  }

  test("synthetic layout: line count and baseline y per page") {
    for (id <- Seq(0L, 1L, 6L, 9L, 12L, 45L, 77L)) { // 6 not 5: id 5 is the encrypted arm
      val doc = Pdf.parse(PdfGen.syntheticPdf(id))
      doc.pages.zipWithIndex.foreach { case (pg, p) =>
        val n = PdfGen.nLines(id, p)
        assert(pg.lines.length == n, s"id=$id p=$p lines")
        pg.lines.zipWithIndex.foreach { case (ln, j) =>
          assert(math.round(ln.y) == 720L - 20L * j, s"id=$id p=$p j=$j y=${ln.y}")
          assert(math.round(ln.x) == 72L, s"id=$id p=$p j=$j x=${ln.x}")
        }
        assert(pg.width == 612.0 && pg.height == 792.0)
      }
    }
  }

  test("modern variant really uses xref stream + ObjStm; classic really uses a table") {
    val modern = new String(PdfGen.syntheticPdf(9L), StandardCharsets.ISO_8859_1)
    assert(modern.contains("/Type /XRef") && modern.contains("/Type /ObjStm"))
    assert(!modern.contains("\ntrailer"))
    val classic = new String(PdfGen.syntheticPdf(1L), StandardCharsets.ISO_8859_1)
    assert(classic.contains("\nxref\n") && classic.contains("trailer"))
    assert(!classic.contains("/Type /XRef"))
  }

  // ------------------------------------------------------------------
  // hand-crafted structural cases

  /** Minimal single-page classic PDF around the given content stream. */
  private def onePage(content: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(ascii(s))
    val offs = new Array[Long](6)
    def obj(n: Int, body: String): Unit = { offs(n) = bos.size.toLong; w(s"$n 0 obj\n$body\nendobj\n") }
    w("%PDF-1.4\n")
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>")
    offs(4) = bos.size.toLong
    w(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n")
    obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val xr = bos.size.toLong
    w("xref\n0 6\n0000000000 65535 f\r\n")
    for (n <- 1 to 5) w(f"${offs(n)}%010d 00000 n\r\n")
    w(s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xr\n%%EOF\n")
    bos.toByteArray
  }

  test("literal string escapes: parens, octal, backslash, line continuation") {
    val doc = Pdf.parse(onePage(
      "BT /F1 12 Tf 72 720 Td (a\\(b\\)c \\\\ \\101\\102 x\\\ny) Tj ET"))
    assert(doc.pages.head.text == "a(b)c \\ AB xy")
  }

  test("hex strings decode (with odd-nibble padding)") {
    val doc = Pdf.parse(onePage("BT /F1 12 Tf 72 720 Td <48692E> Tj 0 -20 Td <4869E> Tj ET"))
    // <4869E> pads to 0x48 0x69 0xE0 -> "Hi" + U+00E0
    assert(doc.pages.head.lines.map(_.text) == Vector("Hi.", "Hià"))
  }

  test("TJ kern at or below -200/1000 em inserts a word break; small kerns do not") {
    val doc = Pdf.parse(onePage("BT /F1 12 Tf 72 720 Td [(foo) -200 (bar) -10 (baz)] TJ ET"))
    assert(doc.pages.head.text == "foo barbaz")
  }

  test("separate show ops on one baseline join; a wide x gap becomes a space") {
    // widths: estimate 0.5em * 12 = 6/char; "ab" ends at 72+12; next at 86 ->
    // gap 2 < 3.6 -> no space; third at 150 -> gap >> threshold -> space
    val doc = Pdf.parse(onePage(
      "BT /F1 12 Tf 72 720 Td (ab) Tj ET " +
        "BT /F1 12 Tf 86 720 Td (cd) Tj ET " +
        "BT /F1 12 Tf 150 720 Td (ef) Tj ET"))
    assert(doc.pages.head.text == "abcd ef")
  }

  test("cm translation moves the baseline (CTM composes with Tm); q/Q restores") {
    val doc = Pdf.parse(onePage(
      "q 1 0 0 1 0 -100 cm BT /F1 12 Tf 72 720 Td (low) Tj ET Q " +
        "BT /F1 12 Tf 72 720 Td (high) Tj ET"))
    // first run lands at y=620, second at y=720 -> top-down order: high, low
    assert(doc.pages.head.lines.map(l => (math.round(l.y), l.text)) ==
      Vector((720L, "high"), (620L, "low")))
  }

  test("Tm absolute positioning and TD leading-setting next lines") {
    val doc = Pdf.parse(onePage(
      "BT /F1 12 Tf 1 0 0 1 72 720 Tm (one) Tj 0 -20 TD (two) Tj T* (three) Tj ET"))
    assert(doc.pages.head.text == "one\ntwo\nthree")
    assert(doc.pages.head.lines.map(l => math.round(l.y)) == Vector(720L, 700L, 680L))
  }

  test("quote and double-quote next-line show operators") {
    val doc = Pdf.parse(onePage(
      "BT /F1 12 Tf 20 TL 72 740 Td (a) ' 0 0 (b) \" ET"))
    assert(doc.pages.head.text == "a\nb")
  }

  test("multiple /Contents segments concatenate at a token boundary") {
    val c1 = "BT /F1 12 Tf 72 720 Td (seg1) Tj ET"
    val c2 = "BT /F1 12 Tf 72 700 Td (seg2) Tj ET"
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(ascii(s))
    val offs = new Array[Long](7)
    def obj(n: Int, body: String): Unit = { offs(n) = bos.size.toLong; w(s"$n 0 obj\n$body\nendobj\n") }
    w("%PDF-1.4\n")
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 6 0 R >> >> /Contents [4 0 R 5 0 R] >>")
    obj(4, s"<< /Length ${c1.length} >>\nstream\n$c1\nendstream")
    obj(5, s"<< /Length ${c2.length} >>\nstream\n$c2\nendstream")
    obj(6, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val xr = bos.size.toLong
    w("xref\n0 7\n0000000000 65535 f\r\n")
    for (n <- 1 to 6) w(f"${offs(n)}%010d 00000 n\r\n")
    w(s"trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n$xr\n%%EOF\n")
    val doc = Pdf.parse(bos.toByteArray)
    assert(doc.pages.head.text == "seg1\nseg2")
  }

  test("indirect /Length resolves through the xref") {
    val content = "BT /F1 12 Tf 72 720 Td (ind) Tj ET"
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(ascii(s))
    val offs = new Array[Long](7)
    def obj(n: Int, body: String): Unit = { offs(n) = bos.size.toLong; w(s"$n 0 obj\n$body\nendobj\n") }
    w("%PDF-1.4\n")
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>")
    obj(4, s"<< /Length 6 0 R >>\nstream\n$content\nendstream")
    obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    obj(6, content.length.toString)
    val xr = bos.size.toLong
    w("xref\n0 7\n0000000000 65535 f\r\n")
    for (n <- 1 to 6) w(f"${offs(n)}%010d 00000 n\r\n")
    w(s"trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n$xr\n%%EOF\n")
    assert(Pdf.parse(bos.toByteArray).pages.head.text == "ind")
  }

  test("corrupt startxref falls back to a whole-file object scan") {
    val bytes = PdfGen.syntheticPdf(1L)
    val s = new String(bytes, StandardCharsets.ISO_8859_1)
    val broken = s.replaceAll("startxref\n\\d+", "startxref\n999999999")
    val doc = Pdf.parse(broken.getBytes(StandardCharsets.ISO_8859_1))
    assert(doc.warnings.contains("xref_rebuild"))
    assert(doc.text == PdfGen.expectedText(1L))
  }

  test("zeroed xref offsets fall back to a whole-file object scan") {
    val bytes = PdfGen.syntheticPdf(2L)
    val s = new String(bytes, StandardCharsets.ISO_8859_1)
    // zero every in-use entry offset: xref loads but objects are garbage
    val broken = s.replaceAll("(?m)^\\d{10} 00000 n", "0000000000 00000 n")
    val doc = Pdf.parse(broken.getBytes(StandardCharsets.ISO_8859_1))
    assert(doc.text == PdfGen.expectedText(2L))
  }

  test("inline images (BI..ID..EI) are skipped, including binary payloads") {
    val doc = Pdf.parse(onePage(
      "BT /F1 12 Tf 72 720 Td (before) Tj ET " +
        "BI /W 2 /H 2 /CS /G /BPC 8 ID ÿ (« EI " +
        "BT /F1 12 Tf 72 700 Td (after) Tj ET"))
    assert(doc.pages.head.text == "before\nafter")
  }

  test("ASCIIHexDecode filter") {
    val content = "BT /F1 12 Tf 72 720 Td (hex) Tj ET"
    val hex = content.getBytes(StandardCharsets.ISO_8859_1)
      .map(b => f"$b%02x").mkString + ">"
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(ascii(s))
    val offs = new Array[Long](6)
    def obj(n: Int, body: String): Unit = { offs(n) = bos.size.toLong; w(s"$n 0 obj\n$body\nendobj\n") }
    w("%PDF-1.4\n")
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>")
    obj(4, s"<< /Length ${hex.length} /Filter /ASCIIHexDecode >>\nstream\n$hex\nendstream")
    obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val xr = bos.size.toLong
    w("xref\n0 6\n0000000000 65535 f\r\n")
    for (n <- 1 to 5) w(f"${offs(n)}%010d 00000 n\r\n")
    w(s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xr\n%%EOF\n")
    assert(Pdf.parse(bos.toByteArray).pages.head.text == "hex")
  }

  /** One-page classic PDF whose content stream carries arbitrary BINARY
    * data under the given stream-dict extras (e.g. " /Filter /LZWDecode").
    */
  private def onePageFiltered(extras: String, data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(ascii(s))
    val offs = new Array[Long](6)
    def obj(n: Int, body: String): Unit = { offs(n) = bos.size.toLong; w(s"$n 0 obj\n$body\nendobj\n") }
    w("%PDF-1.4\n")
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>")
    offs(4) = bos.size.toLong
    w(s"4 0 obj\n<< /Length ${data.length}$extras >>\nstream\n")
    bos.write(data, 0, data.length)
    w("\nendstream\nendobj\n")
    obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val xr = bos.size.toLong
    w("xref\n0 6\n0000000000 65535 f\r\n")
    for (n <- 1 to 5) w(f"${offs(n)}%010d 00000 n\r\n")
    w(s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xr\n%%EOF\n")
    bos.toByteArray
  }

  test("LZWDecode: the ISO 32000 worked example decodes exactly") {
    val encoded = Array(0x80, 0x0B, 0x60, 0x50, 0x22, 0x0C, 0x0C, 0x85, 0x01).map(_.toByte)
    // the worked example's input bytes are DECIMAL 45/65/66
    val expect = Array(45, 45, 45, 45, 45, 65, 45, 45, 45, 66).map(_.toByte)
    assert(Pdf.lzwDecode(encoded, 1, Pdf.MaxStreamBytes).toSeq == expect.toSeq)
  }

  test("LZW round-trips across 9->12-bit widths and a mid-stream clear, both EarlyChange values") {
    val rnd = new java.util.Random(7)
    // low-entropy data grows the table fast enough to cross every width
    val data = Array.fill(120000)((rnd.nextInt(8) + 'a').toByte)
    for (early <- Seq(1, 0)) {
      val enc = PdfGen.lzwEncode(data, early)
      assert(enc.length < data.length, s"early=$early should compress")
      assert(Pdf.lzwDecode(enc, early, Pdf.MaxStreamBytes).toSeq == data.toSeq, s"early=$early")
    }
    // EarlyChange must actually change the wire: decoding with the wrong
    // flag desyncs the width schedule past entry 510
    val wrong = scala.util.Try(Pdf.lzwDecode(PdfGen.lzwEncode(data, 1), 0, Pdf.MaxStreamBytes))
    assert(wrong.isFailure || wrong.get.toSeq != data.toSeq)
    // tiny inputs round-trip too (incl. empty and the KwKwK pattern)
    for (s <- Seq("", "a", "ab", "aaaa", "abababab")) {
      val b = s.getBytes(StandardCharsets.ISO_8859_1)
      assert(Pdf.lzwDecode(PdfGen.lzwEncode(b), 1, Pdf.MaxStreamBytes).toSeq == b.toSeq, s)
    }
  }

  test("ASCII85Decode: classic vector, z-group, partial finals, whitespace, overflow") {
    assert(new String(Pdf.ascii85Decode(ascii("9jqo^~>"), Pdf.MaxStreamBytes),
      StandardCharsets.ISO_8859_1) == "Man ")
    assert(Pdf.ascii85Decode(ascii("z~>"), Pdf.MaxStreamBytes).toSeq == Seq[Byte](0, 0, 0, 0))
    val rnd = new java.util.Random(11)
    for (n <- 0 to 9) { // every final-group residue; '<~' prefix; whitespace
      val b = new Array[Byte](40 + n); rnd.nextBytes(b)
      val enc = PdfGen.ascii85Encode(b)
      assert(Pdf.ascii85Decode(enc, Pdf.MaxStreamBytes).toSeq == b.toSeq, s"n=$n")
      val spaced = ascii("<~" + new String(enc, StandardCharsets.ISO_8859_1).grouped(3).mkString("\n"))
      assert(Pdf.ascii85Decode(spaced, Pdf.MaxStreamBytes).toSeq == b.toSeq, s"n=$n spaced")
    }
    intercept[PdfParseException](Pdf.ascii85Decode(ascii("uuuuu~>"), Pdf.MaxStreamBytes))
  }

  test("RunLengthDecode: direct vectors and round-trip across the 128-byte caps") {
    val direct = Array[Byte](2, 'a', 'b', 'c', (257 - 3).toByte, 'x', 128.toByte, 'Z')
    assert(new String(Pdf.runLengthDecode(direct, Pdf.MaxStreamBytes),
      StandardCharsets.ISO_8859_1) == "abcxxx") // trailing 'Z' is after EOD
    val rnd = new java.util.Random(13)
    val b = new Array[Byte](5000)
    rnd.nextBytes(b)
    java.util.Arrays.fill(b, 1000, 1400, 'r'.toByte) // run longer than 128
    assert(Pdf.runLengthDecode(PdfGen.runLengthEncode(b), Pdf.MaxStreamBytes).toSeq == b.toSeq)
  }

  test("generator filter variants hit the wire and parse (LZW / RunLength / A85+Flate chain)") {
    def s(id: Long) = new String(PdfGen.syntheticPdf(id), StandardCharsets.ISO_8859_1)
    assert(s(14L).contains("/Filter /LZWDecode"))
    assert(s(15L).contains("/Filter /RunLengthDecode"))
    assert(s(29L).contains("/Filter [/ASCII85Decode /FlateDecode]"))
    for (id <- Seq(14L, 15L, 29L)) {
      val doc = Pdf.parse(PdfGen.syntheticPdf(id))
      assert(doc.text == PdfGen.expectedText(id) && doc.warnings.isEmpty, s"id=$id")
    }
  }

  test("LZWDecode honors /DecodeParms: EarlyChange 0 and a PNG type-0 predictor") {
    val content = "BT /F1 12 Tf 72 720 Td (lzw-parms) Tj ET"
    val b0 = onePageFiltered(" /Filter /LZWDecode /DecodeParms << /EarlyChange 0 >>",
      PdfGen.lzwEncode(content.getBytes(StandardCharsets.ISO_8859_1), 0))
    assert(Pdf.parse(b0).pages.head.text == "lzw-parms")
    // predictor 10 = PNG per-row filter tags (type 0 = None), rows of 8
    val padded = (content + " " * ((8 - content.length % 8) % 8))
      .getBytes(StandardCharsets.ISO_8859_1)
    val rows = new java.io.ByteArrayOutputStream()
    padded.grouped(8).foreach { row => rows.write(0); rows.write(row, 0, row.length) }
    val b1 = onePageFiltered(
      " /Filter /LZWDecode /DecodeParms << /Predictor 10 /Columns 8 >>",
      PdfGen.lzwEncode(rows.toByteArray))
    assert(Pdf.parse(b1).pages.head.text == "lzw-parms")
  }

  // ------------------------------------------------------------------
  // poison inputs

  test("non-PDF payloads raise not_pdf") {
    val e1 = intercept[PdfParseException](Pdf.parse("plain text document".getBytes))
    assert(e1.getMessage == "not_pdf")
    val e2 = intercept[PdfParseException](Pdf.parse(Array.empty[Byte]))
    assert(e2.getMessage == "not_pdf")
    val e3 = intercept[PdfParseException](Pdf.parse(null))
    assert(e3.getMessage == "not_pdf")
  }

  test("a PDF header with no recoverable structure raises (no silent empty doc)") {
    intercept[PdfParseException](Pdf.parse(ascii("%PDF-1.4\ngarbage garbage\n%%EOF")))
  }

  test("flate bomb is capped by the decoded-stream budget") {
    // ~1 MB of zeros compresses to ~1 KB; budget-check path exercised with a
    // temporarily tiny cap is not possible (val), so assert the real cap
    // admits a legitimate large-ish stream and the parse stays bounded.
    val big = ("BT /F1 12 Tf 72 720 Td (" + "x" * 100000 + ") Tj ET")
    val doc = Pdf.parse(onePage(big))
    assert(doc.pages.head.text.length == 100000)
  }

  test("page-tree reference cycle terminates (cycle guard)") {
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(ascii(s))
    val offs = new Array[Long](4)
    def obj(n: Int, body: String): Unit = { offs(n) = bos.size.toLong; w(s"$n 0 obj\n$body\nendobj\n") }
    w("%PDF-1.4\n")
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj(3, "<< /Type /Pages /Kids [2 0 R] /Count 1 >>") // cycle 2 -> 3 -> 2
    val xr = bos.size.toLong
    w("xref\n0 4\n0000000000 65535 f\r\n")
    for (n <- 1 to 3) w(f"${offs(n)}%010d 00000 n\r\n")
    w(s"trailer\n<< /Size 4 /Root 1 0 R >>\nstartxref\n$xr\n%%EOF\n")
    val doc = Pdf.parse(bos.toByteArray)
    assert(doc.pages.isEmpty)
  }

  test("Type0 font strings decode as UTF-16BE code units") {
    val content = "BT /F1 12 Tf 72 720 Td <00480069> Tj ET"
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(ascii(s))
    val offs = new Array[Long](6)
    def obj(n: Int, body: String): Unit = { offs(n) = bos.size.toLong; w(s"$n 0 obj\n$body\nendobj\n") }
    w("%PDF-1.4\n")
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>")
    obj(4, s"<< /Length ${content.length} >>\nstream\n$content\nendstream")
    obj(5, "<< /Type /Font /Subtype /Type0 /BaseFont /X /Encoding /Identity-H >>")
    val xr = bos.size.toLong
    w("xref\n0 6\n0000000000 65535 f\r\n")
    for (n <- 1 to 5) w(f"${offs(n)}%010d 00000 n\r\n")
    w(s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xr\n%%EOF\n")
    assert(Pdf.parse(bos.toByteArray).pages.head.text == "Hi")
  }

  /** One-page classic PDF with an arbitrary font dict and extra objects. */
  private def onePageWithFont(content: String, fontBody: String,
                              extra: Seq[String] = Nil): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(ascii(s))
    val nObj = 5 + extra.length
    val offs = new Array[Long](nObj + 1)
    def obj(n: Int, body: String): Unit = { offs(n) = bos.size.toLong; w(s"$n 0 obj\n$body\nendobj\n") }
    w("%PDF-1.4\n")
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>")
    obj(4, s"<< /Length ${content.length} >>\nstream\n$content\nendstream")
    obj(5, fontBody)
    extra.zipWithIndex.foreach { case (body, i) => obj(6 + i, body) }
    val xr = bos.size.toLong
    w(s"xref\n0 ${nObj + 1}\n0000000000 65535 f\r\n")
    for (n <- 1 to nObj) w(f"${offs(n)}%010d 00000 n\r\n")
    w(s"trailer\n<< /Size ${nObj + 1} /Root 1 0 R >>\nstartxref\n$xr\n%%EOF\n")
    bos.toByteArray
  }

  test("ToUnicode bfchar mapping decodes subset-font codes") {
    val cmap = "/CIDInit /ProcSet findresource begin\n" +
      "1 begincodespacerange\n<00> <FF>\nendcodespacerange\n" +
      "2 beginbfchar\n<01> <0048>\n<02> <0069>\nendbfchar\nendcmap\nend"
    val doc = Pdf.parse(onePageWithFont(
      "BT /F1 12 Tf 72 720 Td <0102> Tj ET",
      "<< /Type /Font /Subtype /TrueType /BaseFont /SubsetX /ToUnicode 6 0 R >>",
      Seq(s"<< /Length ${cmap.length} >>\nstream\n$cmap\nendstream")))
    assert(doc.pages.head.text == "Hi")
  }

  test("ToUnicode bfrange: continuous run and array destinations") {
    val cmap = "1 begincodespacerange\n<00> <FF>\nendcodespacerange\n" +
      "2 beginbfrange\n<01> <03> <0061>\n<10> <11> [<0058> <0059>]\nendbfrange\nendcmap"
    val doc = Pdf.parse(onePageWithFont(
      "BT /F1 12 Tf 72 720 Td <010203> Tj 0 -20 Td <1011> Tj ET",
      "<< /Type /Font /Subtype /TrueType /BaseFont /SubsetX /ToUnicode 6 0 R >>",
      Seq(s"<< /Length ${cmap.length} >>\nstream\n$cmap\nendstream")))
    assert(doc.pages.head.lines.map(_.text) == Vector("abc", "XY"))
  }

  test("two-byte ToUnicode codespace decodes 2-byte codes with multi-char targets") {
    val cmap = "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n" +
      "1 beginbfchar\n<0001> <00660066> \nendbfchar\nendcmap" // ff ligature -> "ff"
    val doc = Pdf.parse(onePageWithFont(
      "BT /F1 12 Tf 72 720 Td <0001> Tj ET",
      "<< /Type /Font /Subtype /Type0 /BaseFont /SubsetX /Encoding /Identity-H /ToUnicode 6 0 R >>",
      Seq(s"<< /Length ${cmap.length} >>\nstream\n$cmap\nendstream")))
    assert(doc.pages.head.text == "ff")
  }

  test("/Widths table drives run advances (narrow glyphs expose a real gap)") {
    // glyph width 250/1000 em at size 10 -> 2.5/char; "aa" at 72 truly ends
    // at 77; next run at 80.5 -> gap 3.5 > 0.3em=3 -> space. The 0.5em
    // estimate would put the end at 82 (gap -1.5 -> joined).
    val content = "BT /F1 10 Tf 72 720 Td (aa) Tj ET " +
      "BT /F1 10 Tf 80.5 720 Td (bb) Tj ET"
    val withWidths = Pdf.parse(onePageWithFont(content,
      "<< /Type /Font /Subtype /TrueType /BaseFont /Mono /FirstChar 97 " +
        "/Widths [250 250] >>"))
    assert(withWidths.pages.head.text == "aa bb")
    val noWidths = Pdf.parse(onePageWithFont(content,
      "<< /Type /Font /Subtype /TrueType /BaseFont /Mono >>"))
    assert(noWidths.pages.head.text == "aabb")
  }

  test("names with #xx hex escapes") {
    // /F#31 is /F1: font lookup still resolves
    val doc = Pdf.parse(onePage("BT /F#31 12 Tf 72 720 Td (escname) Tj ET"))
    assert(doc.pages.head.text == "escname")
  }
}
