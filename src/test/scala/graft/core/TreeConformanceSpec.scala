package graft.core

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** html5lib-style tree-construction conformance (SURVEY.md §5.2).
  *
  * The reference runs the html5lib `.dat` suites with a normalizeTree
  * comparator (reference: scripts/conformance/run-tree-fixtures.mjs:28-128,
  * comparator src/internal/tree/normalize.ts). The upstream corpus is an
  * empty submodule in the reference snapshot, so these are hand-written
  * cases in the identical file format covering the load-bearing algorithms:
  * adoption agency, foster parenting, implied end tags, rawtext/rcdata,
  * foreign content (SVG/MathML + integration points), and fragments.
  */
class TreeConformanceSpec extends AnyFunSuite {

  private final case class DatCase(file: String, idx: Int, data: String,
                                   expected: String, fragment: Option[String])

  private def parseDat(name: String, content: String): Seq[DatCase] = {
    val chunks = content.split("\n\n#data\n").toSeq
    val normalized: Seq[String] =
      if (chunks.head.startsWith("#data\n")) chunks.head.drop("#data\n".length) +: chunks.tail
      else chunks
    normalized.zipWithIndex.map { case (chunk, i) =>
      val lines = chunk.split("\n", -1).toVector
      val errIdx = lines.indexOf("#errors")
      val fragIdx = lines.indexOf("#document-fragment")
      val docIdx = lines.indexOf("#document")
      require(errIdx >= 0 && docIdx >= 0, s"malformed case $i in $name")
      val data = lines.slice(0, errIdx).mkString("\n")
      val fragment = if (fragIdx >= 0) Some(lines(fragIdx + 1)) else None
      val expected = lines.drop(docIdx + 1).filter(_.nonEmpty).mkString("\n")
      DatCase(name, i, data, expected, fragment)
    }
  }

  private val cases: Seq[DatCase] = {
    val dir = Paths.get(getClass.getResource("/tree-construction").toURI)
    Files.list(dir).iterator.asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".dat"))
      .sortBy(_.getFileName.toString)
      .flatMap { p =>
        parseDat(p.getFileName.toString,
          new String(Files.readAllBytes(p), "UTF-8").stripTrailing())
      }
  }

  test("conformance corpus is present") {
    assert(cases.size >= 25)
  }

  test("null token drives the pre-body mode machine like parse5") {
    // distilled from the wild-profile differential sweep: a NUL character
    // token is never inserted outside foreign content, but in the pre-body
    // modes it triggers the same structural transitions as any other
    // character (quirks + html/head/body insertion), so a following comment
    // lands in BODY, not on the document (parser/index.js:770-824)
    assert(DatNormalizer.normalizedParse("\u0000<!--c--><p>x") ==
      "| <html>\n|   <head>\n|   <body>\n|     <!-- c -->\n|     <p>\n|       \"x\"")
    // in-table NUL re-enters table-text buffering (pending reset, token
    // dropped) rather than foster-parenting anything
    assert(DatNormalizer.normalizedParse("<table>\u0000<td>x</table>") ==
      "| <html>\n|   <head>\n|   <body>\n|     <table>\n|       <tbody>\n|         <tr>\n|           <td>\n|             \"x\"")
  }

  test("consecutive nulls batch into one token like parse5") {
    // the reference tokenizer accumulates adjacent NULs into ONE
    // NULL_CHARACTER token, so foreign content replaces the whole run with
    // a SINGLE U+FFFD (distilled from the wild-profile sweep, seed 0x0DDBA11)
    assert(DatNormalizer.normalizedParse("<svg><![CDATA[a\u0000\u0000b]]></svg>") ==
      "| <html>\n|   <head>\n|   <body>\n|     <svg svg>\n|       \"a\uFFFDb\"")
    // non-adjacent NULs stay separate tokens: one replacement each
    assert(DatNormalizer.normalizedParse("<svg><![CDATA[a\u0000x\u0000b]]></svg>") ==
      "| <html>\n|   <head>\n|   <body>\n|     <svg svg>\n|       \"a\uFFFDx\uFFFDb\"")
  }

  test("deep nesting builds in linear time") {
    // every open-element query these shapes make on each tag (p in button
    // scope, template on the stack, formatting element on the stack) is
    // answered without a walk of the stack, so each build stays far under
    // the bound that a walk per tag (quadratic in depth) takes seconds to hit.
    // So is every duplicate-attribute check and attribute merge, which a scan
    // per attribute makes quadratic in the attributes of one tag.
    def body(html: String, onError: (String, Int, Int) => Unit = (_, _, _) => ()): (DomElement, Long) = {
      val t0 = System.nanoTime
      val doc = new TreeBuilder(html, scriptingEnabled = true, captureSpans = false,
        onError = onError).parseDocument()
      val ms = (System.nanoTime - t0) / 1000000
      (doc.children(0).asInstanceOf[DomElement].children(1).asInstanceOf[DomElement], ms)
    }
    // the innermost element of the chain of `name` elements under `el`, and its depth
    def chain(el: DomElement, name: String): (DomElement, Int) = {
      var cur = el
      var depth = 0
      var next = cur.children.lastOption.orNull
      while (next != null && next.isInstanceOf[DomElement] &&
        next.asInstanceOf[DomElement].tagName == name) {
        cur = next.asInstanceOf[DomElement]; depth += 1
        next = cur.children.lastOption.orNull
      }
      (cur, depth)
    }
    def within2s(shape: String, ms: Long): Unit = {
      info(s"$shape: $ms ms")
      assert(ms < 2000, s"$shape built in $ms ms")
    }

    for ((name, n) <- Seq("div" -> 40000, "section" -> 40000, "b" -> 100000)) {
      val (b, ms) = body(s"<$name>" * n)
      assert(chain(b, name)._2 == n, name)
      within2s(s"<$name> x $n", ms)
    }
    val divs = "<div>" * 20000
    val (formBody, formMs) = body(divs + "<form>" * 40000)
    val (formHost, formDepth) = chain(formBody, "div")
    assert(formDepth == 20000)
    assert(formHost.children.length == 1 && chain(formHost, "form")._2 == 1)
    within2s("<form> x 40000 under 20000 <div>", formMs)
    val (pBody, pMs) = body(divs + "</p>" * 40000)
    val (pHost, pDepth) = chain(pBody, "div")
    assert(pDepth == 20000)
    assert(pHost.children.length == 40000 &&
      pHost.children.forall { case e: DomElement => e.tagName == "p"; case _ => false })
    within2s("</p> x 40000 under 20000 <div>", pMs)

    // an attribute flood: 40,000 names, each given twice; the first wins and
    // the second is a duplicate-attribute error
    def attrs(from: Int, until: Int, value: String): String =
      (from until until).map(i => s"a$i=$value").mkString(" ")
    val n = 40000
    var duplicates = 0
    val (floodBody, floodMs) = body(s"<div ${attrs(0, n, "1")} ${attrs(0, n, "2")}>",
      (code, _, _) => if (code == "duplicate-attribute") duplicates += 1)
    val div = floodBody.children(0).asInstanceOf[DomElement]
    assert(div.attrCount == n && duplicates == n)
    assert((0 until n).forall(i => div.attrAt(i).name == s"a$i" && div.attrAt(i).value == "1"))
    within2s(s"<div> with $n attributes, each twice", floodMs)
    // a second <body> tag merges the attributes the body lacks, in order
    val (merged, mergeMs) = body(s"<body ${attrs(0, n, "1")}><body ${attrs(n / 2, n + n / 2, "2")}>")
    assert(merged.attrCount == n + n / 2)
    assert((0 until n + n / 2).forall { i =>
      merged.attrAt(i).name == s"a$i" && merged.attrAt(i).value == (if (i < n) "1" else "2")
    })
    within2s(s"<body> with $n attributes merged into one with $n", mergeMs)
    // and one attribute at a time, from as many <body> tags
    val (grown, growMs) = body("<body>" + (0 until n).map(i => s"<body a$i>").mkString)
    assert(grown.attrCount == n && (0 until n).forall(i => grown.attrAt(i).name == s"a$i"))
    within2s(s"$n <body> tags of one attribute each", growMs)
  }

  for (c <- cases) {
    test(s"tree ${c.file} #${c.idx}: ${c.data.take(48).replace("\n", "\\n")}") {
      val actual = c.fragment match {
        case Some(ctx) => DatNormalizer.normalizedParseFragment(c.data, ctx)
        case None      => DatNormalizer.normalizedParse(c.data)
      }
      assert(actual == c.expected,
        s"\n--- input ---\n${c.data}\n--- expected ---\n${c.expected}\n--- actual ---\n$actual")
    }
  }
}
