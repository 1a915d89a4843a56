package graft.core

import scala.collection.mutable.ArrayBuffer

/** Boilerplate stripping via DOM heuristics — the main-content selection
  * layer of the extraction pipeline (text-density, link-density and
  * tag/class scoring).
  *
  * The reference repo is HTML-parsing-only (its visibleText walk,
  * reference: src/public/mod.ts:1233-1372, extracts EVERYTHING visible);
  * this operator adds the web-scale-pipeline step on top: pick the one
  * subtree that carries the page's main content and extract only it. The
  * scoring family is public knowledge — Readability-style class/id token
  * scoring and Boilerpipe-style text/link density (Kohlschuetter et al.,
  * "Boilerplate Detection using Shallow Text Features", WSDM 2010) —
  * re-expressed over this library's immutable tree model.
  *
  * Determinism contract (the DuckDB oracle replays the winning score in
  * closed form): the score of a candidate element is
  *
  *   score = (textChars / (1.0 + nElements)) * (1.0 - linkDensity)
  *           * tagWeight + classIdWeight * classIdSign
  *
  * evaluated left-to-right in IEEE double, where
  *   - textChars    = whitespace-collapsed visible character count of the
  *                    candidate's subtree (skipping [[VisibleText.SkipTags]],
  *                    noscript, and hidden subtrees — the same hidden rules
  *                    the extraction layer uses);
  *   - nElements    = descendant element count over the same non-skipped
  *                    subtree (density denominator);
  *   - linkDensity  = linkChars / textChars (0 when textChars = 0), the
  *                    fraction of subtree text living under an <a> ancestor;
  *   - tagWeight    = [[MainContent.TagWeights]] (article/main favored);
  *   - classIdSign  = -1 if any class/id token is in [[NegativeTokens]]
  *                    (negative evidence wins over positive), else +1 if any
  *                    is in [[PositiveTokens]], else 0.
  *
  * The winner is the highest-scoring candidate; ties break to the lowest
  * node id. Ids are assigned in post-order, so of two tied siblings the
  * earlier in document order wins, and of a tied element and its
  * descendant the descendant wins. Scoring is one post-order pass over
  * the tree — O(nodes), no re-walks per candidate — so
  * the per-document cost stays linear at 100 TB scale, and the operator is
  * embarrassingly parallel inside `mapPartitions` like the rest of the
  * extraction layer (no shuffle, no driver involvement).
  */
final case class MainContentOptions(
    /** Candidates with fewer collapsed text chars than this never win. */
    minTextChars: Int = 16,
    /** Additive weight of one class/id sign unit. */
    classIdWeight: Double = 25.0,
    /** Hidden-subtree rules shared with the visibleText extraction layer. */
    visibleText: VisibleTextOptions = VisibleTextOptions()
)

final case class MainContentResult(
    nodeId: Int,
    tagName: String,
    /** Real visibleText extraction of the winning subtree. */
    text: String,
    score: Double,
    textChars: Int,
    linkChars: Int,
    nElements: Int,
    linkDensity: Double,
    /** Source char span of the winning element (when spans were captured). */
    span: Option[Span],
    nCandidates: Int
)

object MainContent {

  /** Block containers eligible to win. body/html are deliberately NOT
    * candidates: the density denominator already punishes whole-page
    * containers, and excluding them keeps "no real content block" cases
    * falling through to [[extract]]'s None (callers then use the
    * whole-document extraction as the fallback).
    */
  val CandidateTags: Set[String] =
    Set("article", "main", "section", "div", "td", "blockquote")

  /** Semantic-container bonus: article/main declare main content in HTML5. */
  val TagWeights: Map[String, Double] =
    Map("article" -> 1.5, "main" -> 1.5, "section" -> 1.2)

  val PositiveTokens: Set[String] =
    Set("article", "body", "content", "entry", "main", "page", "post",
      "text", "blog", "story")

  val NegativeTokens: Set[String] =
    Set("ad", "ads", "banner", "breadcrumb", "comment", "copyright",
      "disqus", "foot", "footer", "header", "menu", "nav", "promo",
      "related", "share", "shoutbox", "sidebar", "social", "sponsor",
      "widget")

  private final case class Candidate(el: ElementNode, textChars: Int,
                                     linkChars: Int, nElements: Int)

  /** Whitespace-collapsed length of one text node: runs of JS whitespace
    * count as a single separator, edges trimmed — the same character class
    * the extraction layer normalizes with, without materializing the string.
    */
  private def collapsedLen(s: String): Int = {
    var i = 0
    var n = 0
    var pendingSep = false
    val len = s.length
    while (i < len) {
      val c = s.charAt(i)
      if (VisibleText.isJsWhitespace(c)) {
        if (n > 0) pendingSep = true
      } else {
        if (pendingSep) { n += 1; pendingSep = false }
        n += 1
      }
      i += 1
    }
    n
  }

  /** -1 if any class/id token is negative, else +1 if any positive, else 0.
    * Tokens are maximal letter-or-digit runs, lowercased — "main-content"
    * contributes "main" and "content".
    */
  private[graft] def classIdSign(el: ElementNode): Int = {
    var pos = false
    var neg = false
    def scan(v: String): Unit = {
      var i = 0
      val n = v.length
      while (i < n) {
        while (i < n && !Character.isLetterOrDigit(v.charAt(i))) i += 1
        val st = i
        while (i < n && Character.isLetterOrDigit(v.charAt(i))) i += 1
        if (i > st) {
          val tok = v.substring(st, i).toLowerCase
          if (NegativeTokens.contains(tok)) neg = true
          else if (PositiveTokens.contains(tok)) pos = true
        }
      }
    }
    el.attr("class").foreach(scan)
    el.attr("id").foreach(scan)
    if (neg) -1 else if (pos) 1 else 0
  }

  private def scoreOf(textChars: Int, linkChars: Int, nElements: Int,
                      tagName: String, classIdSign: Int,
                      options: MainContentOptions): Double = {
    val linkDensity =
      if (textChars == 0) 0.0 else linkChars.toDouble / textChars
    val density = textChars.toDouble / (1.0 + nElements)
    density * (1.0 - linkDensity) * TagWeights.getOrElse(tagName, 1.0) +
      options.classIdWeight * classIdSign
  }

  /** Score the tree and pick the main-content subtree. None when no
    * candidate reaches `minTextChars` — callers fall back to whole-document
    * extraction ([[extractOrDocument]]).
    */
  def extract(tree: DocumentTree,
              options: MainContentOptions = MainContentOptions()): Option[MainContentResult] = {
    val candidates = ArrayBuffer.empty[Candidate]

    // One post-order pass: accumulate (textChars, linkChars, nElements) per
    // subtree, recording each candidate once its subtree is done. Skipped
    // subtrees (script/style/head/noscript/hidden) contribute nothing —
    // identical invisibility rules to the extraction walk (reference skip
    // set: src/public/mod.ts:1046-1101). An explicit frame stack keeps the
    // pass's stack use flat in the tree's depth: frame d > 0 sums the subtree
    // of `els(d)` and frame 0 the document; `acc(4d)` is the index of the
    // frame's next child, `acc(4d + 1 .. 4d + 3)` its text chars, link chars
    // and elements so far. Text is link text from the first frame under an
    // `<a>`, `linkFrom`, down.
    var els = new Array[ElementNode](8)
    var acc = new Array[Int](32)
    var top = 0
    var linkFrom = Int.MaxValue
    while (top >= 0) {
      val kids = if (top == 0) tree.children else els(top).children
      val b = 4 * top
      val next = acc(b)
      if (next < kids.length) {
        acc(b) = next + 1
        kids(next) match {
          case t: TextNode =>
            val n = collapsedLen(t.value)
            acc(b + 1) += n
            if (top >= linkFrom) acc(b + 2) += n
          case el: ElementNode =>
            val tag = el.tagName.toLowerCase
            if (!VisibleText.SkipTags.contains(tag) && tag != "noscript" &&
                !VisibleText.shouldSkipHiddenSubtree(el, options.visibleText)) {
              top += 1
              if (top == els.length) {
                els = java.util.Arrays.copyOf(els, 2 * top)
                acc = java.util.Arrays.copyOf(acc, 8 * top)
              }
              els(top) = el
              java.util.Arrays.fill(acc, 4 * top, 4 * top + 4, 0)
              if (tag == "a" && linkFrom > top) linkFrom = top
            }
          case _ => // comments / doctypes carry no visible text
        }
      } else {
        if (top > 0) {
          val el = els(top)
          val textChars = acc(b + 1)
          val linkChars = acc(b + 2)
          val nElements = acc(b + 3)
          if (CandidateTags.contains(el.tagName.toLowerCase) && textChars >= options.minTextChars)
            candidates += Candidate(el, textChars, linkChars, nElements)
          acc(b - 3) += textChars
          acc(b - 2) += linkChars
          acc(b - 1) += nElements + 1
          els(top) = null
          if (linkFrom == top) linkFrom = Int.MaxValue
        }
        top -= 1
      }
    }

    if (candidates.isEmpty) return None

    // The tie-break is the first candidate recorded. The pass records each
    // candidate once its subtree is done, so a tied descendant beats its
    // ancestor and an earlier sibling a later one — the lowest node id, as
    // ids are post-order too (`HtmlParser.ConvertState.nextId`).
    var best: Candidate = null
    var bestScore = Double.NegativeInfinity
    var j = 0
    while (j < candidates.length) {
      val c = candidates(j)
      val s = scoreOf(c.textChars, c.linkChars, c.nElements,
        c.el.tagName.toLowerCase, classIdSign(c.el), options)
      if (s > bestScore) { best = c; bestScore = s }
      j += 1
    }

    val linkDensity =
      if (best.textChars == 0) 0.0
      else best.linkChars.toDouble / best.textChars
    Some(MainContentResult(
      nodeId = best.el.id,
      tagName = best.el.tagName,
      text = VisibleText.ofNode(best.el, options.visibleText),
      score = bestScore,
      textChars = best.textChars,
      linkChars = best.linkChars,
      nElements = best.nElements,
      linkDensity = linkDensity,
      span = if (best.el.spanProvenance == SpanProvenance.Input) best.el.span else None,
      nCandidates = candidates.length
    ))
  }

  /** Main-content text, falling back to whole-document visibleText when no
    * candidate block exists (short or unusual pages must still extract).
    */
  def extractOrDocument(tree: DocumentTree,
                        options: MainContentOptions = MainContentOptions()): String =
    extract(tree, options) match {
      case Some(r) => r.text
      case None    => VisibleText.ofDocument(tree, options.visibleText)
    }

  /** Parse + select in one call. */
  def fromHtml(html: String,
               options: MainContentOptions = MainContentOptions(),
               captureSpans: Boolean = false): Option[MainContentResult] =
    extract(HtmlParser.parse(html, ParseOptions(captureSpans = captureSpans)), options)
}
