package graft.core

/** Static HTML metadata: special-element sets, scope definitions, formatting
  * elements, foreign-content adjustment maps, and doctype quirks tables.
  * All data comes from the published WHATWG HTML spec (§13.2); the quirks
  * public-id prefix tables follow the spec list (also vendored by the
  * reference at src/internal/vendor/parse5/common/doctype.js:6-78).
  */
object HtmlMeta {

  val SpecialHtml: Set[String] = Set(
    "address", "applet", "area", "article", "aside", "base", "basefont",
    "bgsound", "blockquote", "body", "br", "button", "caption", "center",
    "col", "colgroup", "dd", "details", "dir", "div", "dl", "dt", "embed",
    "fieldset", "figcaption", "figure", "footer", "form", "frame",
    "frameset", "h1", "h2", "h3", "h4", "h5", "h6", "head", "header",
    "hgroup", "hr", "html", "iframe", "img", "input", "keygen", "li",
    "link", "listing", "main", "marquee", "menu", "meta", "nav", "noembed",
    "noframes", "noscript", "object", "ol", "p", "param", "plaintext",
    "pre", "script", "section", "select", "source", "style", "summary",
    "table", "tbody", "td", "template", "textarea", "tfoot", "th", "thead",
    "title", "tr", "track", "ul", "wbr", "xmp"
  )
  // NOTE: element tag names are stored case-ADJUSTED in the SVG namespace
  // ("foreignObject", not "foreignobject") — the set must use that form
  val SpecialSvg: Set[String] = Set("foreignObject", "desc", "title")
  val SpecialMathMl: Set[String] =
    Set("mi", "mo", "mn", "ms", "mtext", "annotation-xml")

  def isSpecial(el: DomElement): Boolean = el.namespace match {
    case Ns.Html   => SpecialHtml.contains(el.tagName)
    case Ns.Svg    => SpecialSvg.contains(el.tagName)
    case Ns.MathMl => SpecialMathMl.contains(el.tagName)
    case _         => false
  }

  val ImpliedEndTags: Set[String] =
    Set("dd", "dt", "li", "optgroup", "option", "p", "rb", "rp", "rt", "rtc")

  val ImpliedEndTagsThorough: Set[String] = ImpliedEndTags ++
    Set("caption", "colgroup", "tbody", "td", "tfoot", "th", "thead", "tr")

  val Headings: Set[String] = Set("h1", "h2", "h3", "h4", "h5", "h6")

  /** MathML text integration points (spec §13.2.6.5). */
  def isMathMlTextIntegrationPoint(el: DomElement): Boolean =
    el.namespace == Ns.MathMl &&
      (el.tagName == "mi" || el.tagName == "mo" || el.tagName == "mn" ||
        el.tagName == "ms" || el.tagName == "mtext")

  /** HTML integration points (spec §13.2.6.5). */
  def isHtmlIntegrationPoint(el: DomElement): Boolean = {
    if (el.namespace == Ns.Svg)
      // SVG tag names are stored case-adjusted (svg tag-name table), so the
      // integration-point check must use the adjusted camelCase form
      el.tagName == "foreignObject" || el.tagName == "desc" || el.tagName == "title"
    else if (el.namespace == Ns.MathMl && el.tagName == "annotation-xml") {
      val enc = el.attr("encoding")
      enc != null && {
        val lower = enc.toLowerCase
        lower == "text/html" || lower == "application/xhtml+xml"
      }
    } else false
  }

  /** Start tags that break out of foreign content (spec §13.2.6.5). */
  private val ForeignExitTags: Set[String] = Set(
    "b", "big", "blockquote", "body", "br", "center", "code", "dd", "div",
    "dl", "dt", "em", "embed", "h1", "h2", "h3", "h4", "h5", "h6", "head",
    "hr", "i", "img", "li", "listing", "menu", "meta", "nobr", "ol", "p",
    "pre", "ruby", "s", "small", "span", "strong", "strike", "sub", "sup",
    "table", "tt", "u", "ul", "var"
  )

  def causesForeignExit(tag: TagToken): Boolean =
    ForeignExitTags.contains(tag.name) ||
      (tag.name == "font" &&
        (tag.hasAttr("color") || tag.hasAttr("size") || tag.hasAttr("face")))

  /** SVG tag-name case adjustments (spec "adjust SVG attributes" table). */
  val SvgTagAdjust: Map[String, String] = Seq(
    "altGlyph", "altGlyphDef", "altGlyphItem", "animateColor",
    "animateMotion", "animateTransform", "clipPath", "feBlend",
    "feColorMatrix", "feComponentTransfer", "feComposite",
    "feConvolveMatrix", "feDiffuseLighting", "feDisplacementMap",
    "feDistantLight", "feDropShadow", "feFlood", "feFuncA", "feFuncB",
    "feFuncG", "feFuncR", "feGaussianBlur", "feImage", "feMerge",
    "feMergeNode", "feMorphology", "feOffset", "fePointLight",
    "feSpecularLighting", "feSpotLight", "feTile", "feTurbulence",
    "foreignObject", "glyphRef", "linearGradient", "radialGradient",
    "textPath"
  ).map(n => n.toLowerCase -> n).toMap

  val SvgAttrAdjust: Map[String, String] = Seq(
    "attributeName", "attributeType", "baseFrequency", "baseProfile",
    "calcMode", "clipPathUnits", "diffuseConstant", "edgeMode",
    "filterUnits", "glyphRef", "gradientTransform", "gradientUnits",
    "kernelMatrix", "kernelUnitLength", "keyPoints", "keySplines",
    "keyTimes", "lengthAdjust", "limitingConeAngle", "markerHeight",
    "markerUnits", "markerWidth", "maskContentUnits", "maskUnits",
    "numOctaves", "pathLength", "patternContentUnits", "patternTransform",
    "patternUnits", "pointsAtX", "pointsAtY", "pointsAtZ", "preserveAlpha",
    "preserveAspectRatio", "primitiveUnits", "refX", "refY", "repeatCount",
    "repeatDur", "requiredExtensions", "requiredFeatures",
    "specularConstant", "specularExponent", "spreadMethod", "startOffset",
    "stdDeviation", "stitchTiles", "surfaceScale", "systemLanguage",
    "tableValues", "targetX", "targetY", "textLength", "viewBox",
    "viewTarget", "xChannelSelector", "yChannelSelector", "zoomAndPan"
  ).map(n => n.toLowerCase -> n).toMap

  /** Foreign (xlink/xml/xmlns) attribute adjustments, already rendered in
    * the reference's internal "prefix localName" format
    * (reference: src/internal/tree/build.ts:145-152).
    */
  val ForeignAttrAdjust: Map[String, String] = Map(
    "xlink:actuate" -> "xlink actuate",
    "xlink:arcrole" -> "xlink arcrole",
    "xlink:href" -> "xlink href",
    "xlink:role" -> "xlink role",
    "xlink:show" -> "xlink show",
    "xlink:title" -> "xlink title",
    "xlink:type" -> "xlink type",
    "xml:base" -> "xml base",
    "xml:lang" -> "xml lang",
    "xml:space" -> "xml space",
    "xmlns:xlink" -> "xmlns xlink"
  )

  // ---------------- doctype → document mode ----------------
  private val QuirksSystemId =
    "http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd"

  private val QuirksPublicIdPrefixes: Array[String] = Array(
    "+//silmaril//dtd html pro v0r11 19970101//",
    "-//as//dtd html 3.0 aswedit + extensions//",
    "-//advasoft ltd//dtd html 3.0 aswedit + extensions//",
    "-//ietf//dtd html 2.0 level 1//",
    "-//ietf//dtd html 2.0 level 2//",
    "-//ietf//dtd html 2.0 strict level 1//",
    "-//ietf//dtd html 2.0 strict level 2//",
    "-//ietf//dtd html 2.0 strict//",
    "-//ietf//dtd html 2.0//",
    "-//ietf//dtd html 2.1e//",
    "-//ietf//dtd html 3.0//",
    "-//ietf//dtd html 3.2 final//",
    "-//ietf//dtd html 3.2//",
    "-//ietf//dtd html 3//",
    "-//ietf//dtd html level 0//",
    "-//ietf//dtd html level 1//",
    "-//ietf//dtd html level 2//",
    "-//ietf//dtd html level 3//",
    "-//ietf//dtd html strict level 0//",
    "-//ietf//dtd html strict level 1//",
    "-//ietf//dtd html strict level 2//",
    "-//ietf//dtd html strict level 3//",
    "-//ietf//dtd html strict//",
    "-//ietf//dtd html//",
    "-//metrius//dtd metrius presentational//",
    "-//microsoft//dtd internet explorer 2.0 html strict//",
    "-//microsoft//dtd internet explorer 2.0 html//",
    "-//microsoft//dtd internet explorer 2.0 tables//",
    "-//microsoft//dtd internet explorer 3.0 html strict//",
    "-//microsoft//dtd internet explorer 3.0 html//",
    "-//microsoft//dtd internet explorer 3.0 tables//",
    "-//netscape comm. corp.//dtd html//",
    "-//netscape comm. corp.//dtd strict html//",
    "-//o'reilly and associates//dtd html 2.0//",
    "-//o'reilly and associates//dtd html extended 1.0//",
    "-//o'reilly and associates//dtd html extended relaxed 1.0//",
    "-//sq//dtd html 2.0 hotmetal + extensions//",
    "-//softquad software//dtd hotmetal pro 6.0::19990601::extensions to html 4.0//",
    "-//softquad//dtd hotmetal pro 4.0::19971010::extensions to html 4.0//",
    "-//spyglass//dtd html 2.0 extended//",
    "-//sun microsystems corp.//dtd hotjava html//",
    "-//sun microsystems corp.//dtd hotjava strict html//",
    "-//w3c//dtd html 3 1995-03-24//",
    "-//w3c//dtd html 3.2 draft//",
    "-//w3c//dtd html 3.2 final//",
    "-//w3c//dtd html 3.2//",
    "-//w3c//dtd html 3.2s draft//",
    "-//w3c//dtd html 4.0 frameset//",
    "-//w3c//dtd html 4.0 transitional//",
    "-//w3c//dtd html experimental 19960712//",
    "-//w3c//dtd html experimental 970421//",
    "-//w3c//dtd w3 html//",
    "-//w3o//dtd w3 html 3.0//",
    "-//webtechs//dtd mozilla html 2.0//",
    "-//webtechs//dtd mozilla html//"
  )

  private val QuirksPublicIds: Set[String] = Set(
    "-//w3o//dtd w3 html strict 3.0//en//",
    "-/w3c/dtd html 4.0 transitional/en",
    "html"
  )

  private val LimitedQuirksPublicIdPrefixes: Array[String] = Array(
    "-//w3c//dtd xhtml 1.0 frameset//",
    "-//w3c//dtd xhtml 1.0 transitional//"
  )

  private val ExtraNoSystemIdQuirksPrefixes: Array[String] = Array(
    "-//w3c//dtd html 4.01 frameset//",
    "-//w3c//dtd html 4.01 transitional//"
  )

  /** Spec "the initial insertion mode" doctype → document mode. */
  def documentMode(name: String, publicId: String, systemId: String): String = {
    if (name != "html") return "quirks"
    if (systemId != null && systemId.toLowerCase == QuirksSystemId) return "quirks"
    if (publicId != null) {
      val pid = publicId.toLowerCase
      if (QuirksPublicIds.contains(pid)) return "quirks"
      val quirksPrefixes =
        if (systemId == null) QuirksPublicIdPrefixes ++ ExtraNoSystemIdQuirksPrefixes
        else QuirksPublicIdPrefixes
      if (quirksPrefixes.exists(pid.startsWith)) return "quirks"
      val limitedPrefixes =
        if (systemId == null) LimitedQuirksPublicIdPrefixes
        else LimitedQuirksPublicIdPrefixes ++ ExtraNoSystemIdQuirksPrefixes
      if (limitedPrefixes.exists(pid.startsWith)) return "limited-quirks"
    }
    "no-quirks"
  }
}
