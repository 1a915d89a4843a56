package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Main-content selection heuristics: text density, link density and
  * tag/class scoring must each be able to decide the winner on their own,
  * the skip rules must match the extraction layer's, and the no-candidate
  * path must fall back cleanly.
  */
class MainContentSpec extends AnyFunSuite {

  private val long = "alpha beta gamma delta epsilon zeta theta lambda sigma omega " * 2
  private def mc(html: String, opts: MainContentOptions = MainContentOptions()) =
    MainContent.fromHtml(html, opts)

  test("link density: a link farm of equal length loses to plain text") {
    val r = mc(s"""<div><a href="#">$long</a></div><div><p>$long</p></div>""").get
    assert(r.text == long.trim)
    assert(r.linkDensity == 0.0)
    assert(r.nCandidates == 2)
  }

  test("class scoring: negative-classed twin loses, positive-classed twin wins") {
    // the sidebar twin is slightly LONGER (higher density), so only the
    // class/id term can flip the outcome
    val r = mc(
      s"""<div class="sidebar related"><p>zz $long</p></div>""" +
        s"""<div class="entry"><p>$long</p></div>""").get
    assert(r.text == long.trim)
    assert(r.tagName == "div")
  }

  test("classIdSign: negative evidence wins over positive; tokens split on non-alphanumerics") {
    def el(cls: String, id: String = "") =
      ElementNode(0, "div", Vector(Attr("class", cls)) ++
        (if (id.nonEmpty) Vector(Attr("id", id)) else Vector.empty), Vector.empty)
    assert(MainContent.classIdSign(el("main-content")) == 1)
    assert(MainContent.classIdSign(el("content", "sidebar")) == -1)
    assert(MainContent.classIdSign(el("widget ad")) == -1)
    assert(MainContent.classIdSign(el("xyzzy")) == 0)
    assert(MainContent.classIdSign(el("POST")) == 1) // lowercased
  }

  test("tag weight: <article> beats an equal-density plain <div>") {
    val r = mc(s"<div><p>$long</p></div><article><p>$long</p></article>").get
    assert(r.tagName == "article")
  }

  test("tie-break: equal scores go to the earliest candidate in document order") {
    val r = mc(s"<div><p>$long</p></div><div><p>$long</p></div>").get
    // both candidates identical => first one (lower node id) wins
    val first = Traversal.findAllByTagName(
      HtmlParser.parse(s"<div><p>$long</p></div><div><p>$long</p></div>").children, "div").next()
    assert(r.nodeId == first.id)
  }

  test("tie-break: a tied descendant beats its ancestor (node ids are post-order)") {
    // outer: 120 / (1 + 2 elements) + 20 * (+1 for "content") = 60.0;
    // inner: 120 / (1 + 1 element) + 20 * 0 = 60.0, an exact tie
    val text = "x" * 120
    val html = s"""<div class="content"><div id="inner"><p>$text</p></div></div>"""
    val r = mc(html, MainContentOptions(classIdWeight = 20.0)).get
    assert(r.score == 60.0 && r.nCandidates == 2)
    val inner = Traversal.findAllByTagName(HtmlParser.parse(html).children, "div")
      .find(_.attr("id").contains("inner")).get
    assert(r.nodeId == inner.id)
    assert(r.nElements == 1)
  }

  test("hidden and script subtrees contribute nothing to scoring") {
    // the hidden div would out-score everything if counted
    val r = mc(
      s"""<div hidden><p>$long $long $long</p></div>""" +
        s"""<div><script>var x="$long $long";</script><p>$long</p></div>""").get
    assert(r.text == long.trim)
    assert(r.textChars == long.trim.length)
  }

  test("density: a container stuffed with markup loses to a lean twin") {
    val spans = (1 to 40).map(i => s"<span>w$i</span>").mkString
    val r = mc(s"<div>$spans</div><div><p>$long</p></div>").get
    assert(r.text == long.trim)
  }

  test("minTextChars: short blocks are not candidates; None when nothing qualifies") {
    assert(mc("<div><p>tiny</p></div>").isEmpty)
    assert(mc("<p>no candidate containers at all</p>").isEmpty)
  }

  test("extractOrDocument falls back to whole-document extraction") {
    val tree = HtmlParser.parse("<p>just a short page</p>")
    assert(MainContent.extractOrDocument(tree) == "just a short page")
  }

  test("winner span is the element's input span when captured") {
    val html = s"""<div class="nav"><a href="#">x</a></div><div id="main-content"><p>$long</p></div>"""
    val r = MainContent.fromHtml(html, captureSpans = true).get
    val sp = r.span.get
    assert(html.substring(sp.start, sp.end) ==
      s"""<div id="main-content"><p>$long</p></div>""")
  }

  test("score replay: the documented closed form matches") {
    val r = mc(s"<article><h2>head line</h2><p>$long</p></article>").get
    val textChars = "head line".length + long.trim.length
    val expected = textChars.toDouble / (1.0 + 2.0) * (1.0 - 0.0) * 1.5 + 0.0
    assert(r.score == expected)
    assert(r.textChars == textChars)
    assert(r.nElements == 2)
  }

  test("link chars count only text under <a> ancestors") {
    val r = mc(s"""<div><p>$long</p><a href="#">click here maybe</a></div>""").get
    assert(r.linkChars == "click here maybe".length)
    assert(r.textChars == long.trim.length + "click here maybe".length)
  }
}
