package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

/** Golden-fixture extraction corpus: the per-turn text-equality oracle named
  * in the north rule. Each case directory holds input.html / expected.txt /
  * expected.tokens.json copied from the reference
  * (reference: test/fixtures/visible-text/v1, harness
  * test/control/visible-text.test.js:38-62 — trailing newline of
  * expected.txt is stripped, results must be deterministic across reruns).
  */
class VisibleTextFixtureSpec extends AnyFunSuite {

  private def resourceDir(name: String): Path = {
    val url = getClass.getResource(s"/$name")
    require(url != null, s"missing resource dir $name")
    Paths.get(url.toURI)
  }

  private def readExpected(path: Path): String = {
    val raw = new String(Files.readAllBytes(path), "UTF-8")
    if (raw.endsWith("\n")) raw.substring(0, raw.length - 1) else raw
  }

  /** Minimal parser for the fixture token JSON: array of {kind, value}. */
  private def parseTokensJson(raw: String): Vector[(String, String)] = {
    val tokens = Vector.newBuilder[(String, String)]
    val pattern = """(?s)\{\s*"kind"\s*:\s*"([^"]+)"\s*,\s*"value"\s*:\s*"((?:[^"\\]|\\.)*)"\s*\}""".r
    pattern.findAllMatchIn(raw).foreach { m =>
      val value = m.group(2)
        .replace("\\n", "\n").replace("\\t", "\t").replace("\\r", "\r")
        .replace("\\\"", "\"").replace("\\\\", "\\")
      tokens += ((m.group(1), value))
    }
    tokens.result()
  }

  private def cases(dir: Path): Seq[Path] =
    Files.list(dir).iterator.asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith("case-"))
      .sortBy(_.getFileName.toString)

  private val corpus = resourceDir("visible-text/v1")
  private val fallbackCorpus = resourceDir("visible-text-fallback/v1")

  test("corpus is present and non-trivial") {
    assert(cases(corpus).size >= 100)
    assert(cases(fallbackCorpus).size >= 10)
  }

  for (caseDir <- cases(corpus)) {
    val name = caseDir.getFileName.toString
    test(s"visible-text $name: exact text equality") {
      val html = new String(Files.readAllBytes(caseDir.resolve("input.html")), "UTF-8")
      val expected = readExpected(caseDir.resolve("expected.txt"))
      val tree = HtmlParser.parse(html)
      val actual = VisibleText.ofDocument(tree)
      assert(actual == expected, s"\n--- expected ---\n$expected\n--- actual ---\n$actual")
      // determinism: double run must be identical
      assert(VisibleText.ofDocument(HtmlParser.parse(html)) == actual)
    }

    test(s"visible-text $name: token equality") {
      val html = new String(Files.readAllBytes(caseDir.resolve("input.html")), "UTF-8")
      val expectedTokens = parseTokensJson(
        new String(Files.readAllBytes(caseDir.resolve("expected.tokens.json")), "UTF-8"))
      val actual = VisibleText.tokensOfDocument(HtmlParser.parse(html))
        .map(t => (t.kind, t.value))
      assert(actual == expectedTokens)
    }
  }

  // Regression (found by the extraction differential): the output
  // edge-trim follows JS String.trim() / regex \s — which includes NBSP,
  // NNBSP, FEFF and the Zs block — not Java's Character.isWhitespace.
  // Reference: mod.ts:1138 (output.trim()) and :1484 (/\s/ char trim).
  test("edge trim uses the ECMAScript whitespace class (NBSP trims away)") {
    val tree = HtmlParser.parse("<p>&nbsp;trail <img alt=va>&#x2209;&nbsp;</p>")
    assert(VisibleText.ofDocument(tree) == "trail va∉")
    // interior NBSP is content, edge NBSP is not
    val tree2 = HtmlParser.parse("<p>&nbsp;a&nbsp;b&nbsp;</p>")
    assert(VisibleText.ofDocument(tree2) == "a\u00a0b")
    assert(VisibleText.ofDocument(tree2, VisibleTextOptions(trim = false))
      .contains("\u00a0a\u00a0b\u00a0"))
    // a document whose only visible text is NBSP trims to nothing, and the
    // provenance pipeline agrees (its trim is a separate code path)
    val tree3 = HtmlParser.parse("<p>&nbsp;</p>")
    assert(VisibleText.ofDocument(tree3) == "")
    assert(VisibleText.tokensOfDocument(tree3).isEmpty)
    assert(VisibleText.tokensWithProvenance(tree3.children).isEmpty)
    // as do an empty and an ASCII-whitespace-only document
    assert(VisibleText.ofDocument(HtmlParser.parse("")) == "")
    assert(VisibleText.ofDocument(HtmlParser.parse("   \n\t  ")) == "")
    val prov = VisibleText.tokensWithProvenance(tree.children)
    assert(prov.map(_.value).mkString == "trail va∉")
    // U+2028/U+202F/U+FEFF edges trim; U+001C (Java-ws, not JS-ws) stays
    assert(VisibleText.ofDocument(
      HtmlParser.parse("<p>&#x2028;x&#x202f;&#xfeff;</p>")) == "x")
    assert(VisibleText.ofDocument(
      HtmlParser.parse("<p>&#x1c;x&#x1c;</p>")) == "\u001cx\u001c")
  }

  // Regression (extract_diff hypothesis confirmed against the reference):
  // attribute-value trims are also JS-class — aria-hidden truthiness
  // (mod.ts:1062), aria-label nonemptiness (:1108), input type (:1123) —
  // and the style normalization strips /\s+/ which matches NBSP (:1087).
  test("attribute-value trims and style stripping use the JS whitespace class") {
    // NBSP-padded aria-hidden="true" hides the subtree
    assert(VisibleText.ofDocument(
      HtmlParser.parse("<div aria-hidden='\u00a0true\u00a0'>gone</div>x")) == "x")
    // NBSP inside a style declaration still matches display:none
    assert(VisibleText.ofDocument(
      HtmlParser.parse("<div style='display:\u00a0none'>gone</div>y")) == "y")
    // NBSP-padded type='hidden' suppresses the accname fallback
    assert(VisibleText.ofDocument(
      HtmlParser.parse("<input type='\u00a0hidden' aria-label=al>z"),
      VisibleTextOptions(includeAccessibleNameFallback = true)) == "z")
    // whitespace-only aria-label is not a name; padded one is trimmed
    assert(VisibleText.ofDocument(
      HtmlParser.parse("<input aria-label='\u00a0'>q"),
      VisibleTextOptions(includeAccessibleNameFallback = true)) == "q")
    assert(VisibleText.ofDocument(
      HtmlParser.parse("<input aria-label='\u00a0lbl\u00a0'>r"),
      VisibleTextOptions(includeAccessibleNameFallback = true)) == "lblr")
  }

  for (caseDir <- cases(fallbackCorpus)) {
    val name = caseDir.getFileName.toString
    test(s"visible-text-fallback $name: default vs fallback") {
      val html = new String(Files.readAllBytes(caseDir.resolve("input.html")), "UTF-8")
      val expectedDefault = readExpected(caseDir.resolve("expected.default.txt"))
      val expectedFallback = readExpected(caseDir.resolve("expected.fallback.txt"))
      val tree = HtmlParser.parse(html)
      assert(VisibleText.ofDocument(tree) == expectedDefault)
      assert(
        VisibleText.ofDocument(tree,
          VisibleTextOptions(includeAccessibleNameFallback = true)) == expectedFallback)
    }
  }
}
