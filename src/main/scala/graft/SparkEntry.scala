package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core._
import graft.ops.{Audio, Dedup, Multimodal, PdfGen, PdfOps, Similarity, TextStats}
import graft.pipeline.{ConvDigest, Extraction, TranscriptTurn, Transcripts}

/** Driver contract — one `queries` entry per implemented operator family
  * (SURVEY.md §2), with an exact DuckDB oracle wherever the expected result
  * is ANSI-SQL-expressible.
  *
  * Oracle design: `documents.text` is single-spaced `[a-z0-9 ]`, so HTML
  * assembled by deterministic concatenation has a closed-form extraction
  * result — the SQL oracle states WHAT the parser must produce without
  * re-implementing it, and the Spark side must earn equality through the
  * real tokenizer/tree-builder/visibleText stack.
  */
object SparkEntry {

  private val NL = "chr(10)"
  private val TAB = "chr(9)"

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** (doc_id, html built by `htmlExpr` over documents) -> core mapper. */
  private def overHtml[T <: Product : scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession, dir: String, htmlExpr: String)(f: (Long, String) => T): DataFrame =
    overHtmlFlat[T](spark, dir, htmlExpr)((id, html) => Iterator.single(f(id, html)))

  /** (doc_id, html built by `htmlExpr` over documents) -> rows of the core mapper. */
  private def overHtmlFlat[T <: Product : scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession, dir: String, htmlExpr: String)(f: (Long, String) => Iterator[T]): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select(col("doc_id").cast("long"), expr(htmlExpr).as("html"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, html) => f(id, html) })(org.apache.spark.sql.Encoders.product[T])
      .toDF()
  }

  private def vt(html: String): String = VisibleText.ofDocument(HtmlParser.parse(html))

  // ------------------------------------------------------------------
  // Result row shapes (top-level for stable encoders)
  final case class IdText(doc_id: Long, extracted_text: String)
  final case class IdSpans(doc_id: Long, tag: String, elem_start: Long, elem_end: Long,
                           text_start: Long, text_end: Long)
  final case class IdErrors(doc_id: Long, n_errors: Long, first_error: String)
  final case class IdTok(doc_id: Long, n_tokens: Long, n_chars: Long)
  final case class IdEnc(doc_id: Long, encoding: String, enc_source: String)
  final case class IdOutline(doc_id: Long, ord: Long, depth: Long, tag: String, heading: String)
  final case class IdChunk(doc_id: Long, chunk_idx: Long, content: String)
  final case class IdSerialized(doc_id: Long, html_out: String)
  final case class IdTextErrors(doc_id: Long, extracted_text: String,
                                n_errors: Long, first_error: String)
  final case class IdTrace(doc_id: Long, n_events: Long, n_transitions: Long,
                           n_parse_errors: Long, n_tokens: Long, last_to_mode: String)
  final case class IdTreeQuery(doc_id: Long, n_nodes: Long, n_elements: Long,
                               attr_vals: String, s1_text: String, id_roundtrip: Boolean)
  final case class IdTextEnc(doc_id: Long, extracted_text: String, encoding: String)
  final case class IdTextBudget(doc_id: Long, extracted_text: String, budget_error: String)
  final case class IdProv(doc_id: Long, extracted_text: String, n_tokens: Long,
                          degraded: Boolean, kinds: String)
  final case class IdMain(doc_id: Long, main_tag: String, extracted_text: String,
                          text_chars: Long, link_density: Double, score: Double)
  final case class IdMainSpan(doc_id: Long, main_tag: String, extracted_text: String,
                              span_start: Long, span_end: Long)

  /** Flagship: full transcript extraction pipeline on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val turns = Transcripts.fromDocuments(spark, "/root/testdata/sf0.001")
      .withColumn("turn_idx", col("turn_idx").cast("int"))
      .as[TranscriptTurn]
    Extraction.extract(turns).toDF()
  }

  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- extraction: visibleText rule families --------------------------
    "q_visible_text" -> ((s, dir) =>
      overHtml[IdText](s, dir, "concat('<div><p>', text, '</p></div>')") {
        (id, h) => IdText(id, vt(h))
      }),

    "q_visible_text_blocks" -> ((s, dir) =>
      overHtml[IdText](s, dir,
        "concat('<h1>', source, '</h1><p>', text, '</p><p>', lang, '</p>')") {
        (id, h) => IdText(id, vt(h))
      }),

    "q_visible_text_table" -> ((s, dir) =>
      overHtml[IdText](s, dir,
        "concat('<table><tr><th>lang</th><th>source</th></tr><tr><td>', lang, '</td><td>', source, '</td></tr></table>')") {
        (id, h) => IdText(id, vt(h))
      }),

    "q_visible_text_entities" -> ((s, dir) =>
      overHtml[IdText](s, dir, "concat('<p>', text, ' &amp; &#169; &copy;</p>')") {
        (id, h) => IdText(id, vt(h))
      }),

    "q_visible_text_hidden" -> ((s, dir) =>
      overHtml[IdText](s, dir,
        "concat('<p>', text, '</p><div hidden><p>', source, '</p></div>'," +
          "'<p style=\"display:none\">', source, '</p>'," +
          "'<p aria-hidden=\"true\">', source, '</p><p>', lang, '</p>')") {
        (id, h) => IdText(id, vt(h))
      }),

    "q_visible_text_controls" -> ((s, dir) =>
      overHtml[IdText](s, dir,
        "concat('<p><img alt=\"', source, '\"> ', text, ' <input type=\"submit\" value=\"', lang, '\"></p>')") {
        (id, h) => IdText(id, vt(h))
      }),

    "q_visible_text_br_pre" -> ((s, dir) =>
      overHtml[IdText](s, dir,
        "concat('<p>', lang, '<br>', source, '</p><pre>', text, '</pre>')") {
        (id, h) => IdText(id, vt(h))
      }),

    // extraction-layer corners the parse5 differential harness cannot reach
    // (reference visibleText walk, mod.ts:1233-1372): preserveWhitespace
    // inheritance through nested blocks (:1357), textarea preserving inside
    // a table cell, and nested-table tab/newline interleaving (:1329-1348)
    "q_visible_text_pre_nested" -> ((s, dir) =>
      overHtml[IdText](s, dir,
        "CASE CAST(doc_id % 2 AS INT) WHEN 0 THEN " +
          "concat('<pre><div>', lang, chr(10), source, '</div></pre><div>', lang, chr(10), source, '</div><p>', text, '</p>') " +
          "ELSE concat('<table><tr><td><textarea>', lang, chr(10), source, '</textarea></td><td>', text, '</td></tr></table>') END") {
        (id, h) => IdText(id, vt(h))
      }),

    "q_visible_text_nested_table" -> ((s, dir) =>
      overHtml[IdText](s, dir,
        "concat('<table><tr><td>', lang, '</td><td><table><tr><td>', source, '</td><td>', text, '</td></tr></table></td><td>', lang, '</td></tr></table>')") {
        (id, h) => IdText(id, vt(h))
      }),

    // aria-hidden truthiness edge values (mod.ts:1058-1064: trim+lowercase,
    // hidden iff "", "true" or "1") + style normalization stripping ALL
    // whitespace before matching display:none / content-visibility:hidden
    "q_visible_text_aria_edge" -> ((s, dir) =>
      overHtml[IdText](s, dir,
        "concat('<p><span aria-hidden=\"\">', source, '</span><span aria-hidden=\"false\">', lang, " +
          "'</span> <span aria-hidden=\"0\">', source, '</span> <span aria-hidden=\" TRUE \">', text, " +
          "'</span><span aria-hidden=\"yes\">', text, '</span><i style=\"display : none\">', text, " +
          "'</i><i style=\"CONTENT-VISIBILITY:Hidden\">', text, '</i></p>')") {
        (id, h) => IdText(id, vt(h))
      }),

    // includeAccessibleNameFallback=true (mod.ts:1112-1128): input aria-label
    // used only for non-hidden inputs without a usable control value, blank
    // labels rejected after trim
    "q_visible_text_accname" -> ((s, dir) =>
      overHtml[IdText](s, dir,
        "concat('<p><input type=\"text\" aria-label=\"', lang, '\"> ', text, " +
          "' <input type=\"submit\" value=\"', source, '\" aria-label=\"zz\"> <input type=\"hidden\" aria-label=\"zz\"> <input type=\"search\" aria-label=\"  \">end</p>')") {
        (id, h) => IdText(id, VisibleText.ofDocument(HtmlParser.parse(h),
          VisibleTextOptions(includeAccessibleNameFallback = true)))
      }),

    // provenance (mod.ts:1638-1667): every token keeps its source node
    // (degraded = false; the reference's degraded fallback, mod.ts:1650-1664,
    // has no counterpart here) and the token stream has the closed-form
    // kind sequence
    "q_provenance" -> ((s, dir) =>
      overHtml[IdProv](s, dir,
        "concat('<h1>', lang, '</h1><p>', text, '</p><table><tr><td>', source, '</td><td>', lang, '</td></tr></table>')") {
        (id, h) =>
          val tree = HtmlParser.parse(h)
          val (out, toks) = VisibleText.extractWithProvenance(tree.children)
          val degraded = toks.nonEmpty && toks.forall(_.sourceNodeId.isEmpty)
          IdProv(id, out, toks.length.toLong, degraded, toks.map(_.kind).mkString(","))
      }),

    "q_parse_stream" -> ((s, dir) =>
      overHtml[IdText](s, dir, "concat('<p>', text, '</p>')") { (id, h) =>
        // chunked-bytes ingestion path: 7-byte chunks exercise sniffing and
        // multi-chunk incremental decode (reference parseStream)
        val chunks = h.getBytes("UTF-8").grouped(7)
        IdText(id, VisibleText.ofDocument(Streaming.parseStream(chunks)))
      }),

    // ---- main-content selection (boilerplate strip; north-star heuristics:
    // text-density, link-density, tag/class scoring). Three arms, each
    // decidable only if ONE heuristic works: arm 0 = class tokens + link
    // density (nav/footer link farms lose), arm 1 = tag weight + link
    // density with zero class evidence, arm 2 = class sign against a
    // HIGHER-density negative-classed twin. The oracle replays the winning
    // score's exact IEEE arithmetic, not just the extracted text.
    "q_main_content" -> ((s, dir) =>
      overHtml[IdMain](s, dir,
        "CASE CAST(doc_id % 3 AS INT) " +
          "WHEN 0 THEN concat('<div class=\"nav menu\"><a href=\"#\">', lang, '</a> <a href=\"#\">', source, " +
          "'</a></div><div class=\"post content\"><p>', text, '</p></div><div id=\"footer\"><a href=\"#\">', source, '</a> copyright</div>') " +
          "WHEN 1 THEN concat('<div><a href=\"#\">', text, '</a></div><article><h2>', lang, '</h2><p>', text, '</p></article>') " +
          "ELSE concat('<div class=\"sidebar related\"><p>zz ', text, '</p></div><div class=\"entry\"><p>', text, '</p></div>') END") {
        (id, h) =>
          val r = MainContent.fromHtml(h).get
          IdMain(id, r.tagName, r.text, r.textChars.toLong, r.linkDensity, r.score)
      }),

    // winner's source char span (captureSpans), stated closed-form by the
    // oracle from the literal wrapper lengths — per-turn "extracted text
    // AND character spans" from the north star
    "q_main_content_spans" -> ((s, dir) =>
      overHtml[IdMainSpan](s, dir,
        "concat('<div class=\"nav\"><a href=\"#\">', lang, '</a></div><div id=\"main-content\"><p>', text, " +
          "'</p></div><div class=\"footer\">', source, '</div>')") {
        (id, h) =>
          val r = MainContent.fromHtml(h, captureSpans = true).get
          val sp = r.span.get
          IdMainSpan(id, r.tagName, r.text, sp.start.toLong, sp.end.toLong)
      }),

    // pipeline-shaped: boilerplate-wrapped transcript turns -> per-turn main
    // text + spans under stable (conv_id, turn_idx) window ordering
    "q_main_transcript" -> ((s, dir) => {
      import s.implicits._
      val wrapped = docs(s, dir).select(
        concat(lit("c"), lpad((col("doc_id") % 40).cast("string"), 4, "0")).as("conv_id"),
        expr("CAST(doc_id DIV 40 AS BIGINT)").as("turn_idx"),
        expr("concat('<div class=\"nav\"><a href=\"#\">', lang, '</a></div><div id=\"main-content\"><p>', text, " +
          "'</p></div><div class=\"footer\">', source, '</div>')").as("html"))
      wrapped.as[(String, Long, String)]
        .mapPartitions(_.map { case (cid, tix, h) =>
          val r = MainContent.fromHtml(h, captureSpans = true).get
          val sp = r.span.get
          (cid, tix, r.text, sp.start.toLong, sp.end.toLong)
        })
        .toDF("conv_id", "turn_idx", "extracted_text", "span_start", "span_end")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))).cast("long"))
    }),

    "q_textcontent" -> ((s, dir) =>
      overHtml[IdText](s, dir,
        "concat('<div> ', lang, '  <span>', source, '</span></div>')") {
        (id, h) => IdText(id, Traversal.textContent(HtmlParser.parse(h).children))
      }),

    // ---- adversarial parser paths (malformed input, closed-form oracle) -
    // These exercise the error-recovery machinery — adoption agency, foster
    // parenting, entity edge cases, tag soup, byte-level decode, budgets —
    // against the independent DuckDB hash gate, not just sbt suites.

    "q_adv_adoption" -> ((s, dir) =>
      // misnesting <b><i>…</b>…</i>: the adoption agency reparents the <i>
      // run but the visible text is still the plain concatenation
      overHtml[IdText](s, dir,
        "concat('<p><b>', lang, ' <i>', text, '</b> ', source, '</i></p>')") {
        (id, h) => IdText(id, vt(h))
      }),

    "q_adv_foster" -> ((s, dir) =>
      // character data directly inside <table> is foster-parented before
      // the table; the stray text also records a parse error
      overHtml[IdTextErrors](s, dir,
        "concat('<table>', lang, '<tr><td>', text, '</td></tr></table>')") { (id, h) =>
        val tree = HtmlParser.parse(h)
        IdTextErrors(id, VisibleText.ofDocument(tree), tree.errors.length.toLong,
          tree.errors.headOption.map(_.parseErrorId).getOrElse(""))
      }),

    "q_adv_entities" -> ((s, dir) =>
      // numeric reference in the windows-1252 remap range (&#150; → U+2013),
      // hex and decimal references, and a legacy semicolon-less &amp
      overHtml[IdTextErrors](s, dir,
        "concat('<p>', text, ' &#150; &#xA9; &#65; &amp</p>')") { (id, h) =>
        val tree = HtmlParser.parse(h)
        IdTextErrors(id, VisibleText.ofDocument(tree), tree.errors.length.toLong,
          tree.errors.headOption.map(_.parseErrorId).getOrElse(""))
      }),

    "q_adv_soup" -> ((s, dir) =>
      // unclosed-tag soup (implied </p>/<body> closes) and a misnested
      // table inside formatting with an implied cell/row structure
      overHtml[IdTextErrors](s, dir,
        "CASE CAST(doc_id % 2 AS INT) " +
          "WHEN 0 THEN concat('<p>', lang, '<p>', text, '<div>', source) " +
          "ELSE concat('<b><table><td>', lang, '</td><tr><td>', text, '</table></b>', source) END") {
        (id, h) =>
          val tree = HtmlParser.parse(h)
          IdTextErrors(id, VisibleText.ofDocument(tree), tree.errors.length.toLong,
            tree.errors.headOption.map(_.parseErrorId).getOrElse(""))
      }),

    "q_adv_foreign_template" -> ((s, dir) =>
      // foreign content (SVG title skip + text integration), template
      // content exclusion, and frameset/noframes documents
      overHtml[IdText](s, dir,
        "CASE CAST(doc_id % 3 AS INT) " +
          "WHEN 0 THEN concat('<p>', lang, '</p><svg><title>', source, '</title><text>', text, '</text></svg><p>', source, '</p>') " +
          "WHEN 1 THEN concat('<p>', lang, '</p><template><p>', text, '</p></template><p>', source, '</p>') " +
          "ELSE concat('<frameset><frame></frameset><noframes>', text, '</noframes>') END") {
        (id, h) => IdText(id, vt(h))
      }),

    "q_adv_raw_modes" -> ((s, dir) =>
      // RAWTEXT skip (script/style), PLAINTEXT literal tail, and the
      // noscript single-text-child fragment-reparse fallback
      overHtml[IdText](s, dir,
        "CASE CAST(doc_id % 3 AS INT) " +
          "WHEN 0 THEN concat('<script>var x = ', text, ';</script><style>.a{}</style><p>', lang, '</p>') " +
          "WHEN 1 THEN concat('<p>', lang, '</p><plaintext>', text, '<b>', source, '</b>') " +
          "ELSE concat('<p>', lang, '</p><noscript><p>', text, '</p></noscript><p>', source, '</p>') END") {
        (id, h) => IdText(id, vt(h))
      }),

    "q_adv_bytes_utf16" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val html = s"<p>$text</p>"
          val bytes =
            if (id % 2 == 0) Array[Byte](0xFF.toByte, 0xFE.toByte) ++ html.getBytes("UTF-16LE")
            else Array[Byte](0xFE.toByte, 0xFF.toByte) ++ html.getBytes("UTF-16BE")
          val sniff = EncodingSniff.sniffHtmlEncoding(bytes, None)
          IdTextEnc(id, VisibleText.ofDocument(HtmlParser.parseBytes(bytes)), sniff.encoding)
        }.toDF()
    }),

    "q_adv_budget" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val depth = if (id % 2 == 0) 300 else 10
          val html = "<div>" * depth + text + "</div>" * depth
          try {
            val tree = HtmlParser.parse(html,
              ParseOptions(budgets = Some(Budgets(maxDepth = Some(256)))))
            IdTextBudget(id, VisibleText.ofDocument(tree), "")
          } catch {
            case e: BudgetExceededException =>
              IdTextBudget(id, "", s"budget:${e.payload.budget}")
          }
        }.toDF()
    }),

    "q_trace" -> ((s, dir) =>
      // trace observability: event/transition/error/token counts per doc,
      // across well-formed, foster-parenting, and misnested templates
      overHtml[IdTrace](s, dir,
        "CASE CAST(doc_id % 3 AS INT) " +
          "WHEN 0 THEN concat('<p>', text, '</p>') " +
          "WHEN 1 THEN concat('<table>', lang, '<tr><td>', text, '</td></tr></table>') " +
          "ELSE concat('<p><b>', lang, ' <i>', text, '</b> ', source, '</i></p>') END") {
        (id, h) =>
          val tree = HtmlParser.parse(h, ParseOptions(trace = true))
          val ev = tree.trace.get
          val trans = ev.collect { case t: TraceInsertionModeTransitionEvent => t }
          IdTrace(id, ev.length.toLong, trans.length.toLong,
            ev.count(_.kind == "parseError").toLong,
            ev.collectFirst { case t: TraceTokenEvent => t.count.toLong }.get,
            trans.lastOption.map(_.toMode).getOrElse(""))
      }),

    // ---- parse diagnostics / spans / tokens ----------------------------
    "q_spans" -> ((s, dir) =>
      overHtml[IdSpans](s, dir, "concat('<p>', text, '</p>')") { (id, h) =>
        val tree = HtmlParser.parse(h, ParseOptions(captureSpans = true))
        val p = Traversal.findAllByTagName(tree.children, "p").next()
        val t = p.children.head.asInstanceOf[TextNode]
        IdSpans(id, p.tagName,
          p.span.get.start.toLong, p.span.get.end.toLong,
          t.span.get.start.toLong, t.span.get.end.toLong)
      }),

    "q_parse_errors" -> ((s, dir) =>
      overHtml[IdErrors](s, dir,
        "CASE CAST(doc_id % 3 AS INT) " +
          "WHEN 0 THEN concat('<p>', text, '</p>') " +
          "WHEN 1 THEN concat('<p>&copy x ', text, '</p>') " +
          "ELSE concat('</br/><p>', text, '</p>') END") { (id, h) =>
        val tree = HtmlParser.parse(h)
        IdErrors(id, tree.errors.length.toLong,
          tree.errors.headOption.map(_.parseErrorId).getOrElse(""))
      }),

    "q_tokenize" -> ((s, dir) =>
      overHtml[IdTok](s, dir,
        "concat('<p>', text, '</p><p>', lang, '</p>')") { (id, h) =>
        val toks = TokenizeApi.tokenize(h).tokens
        val chars = toks.collect { case CharsTok(d) => d.length.toLong }.sum
        IdTok(id, toks.length.toLong, chars)
      }),

    "q_encoding_sniff" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val bytes = (id % 3) match {
            case 0 => Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
              text.getBytes("UTF-8")
            case 1 => s"<meta charset=utf-8><p>$text</p>".getBytes("UTF-8")
            case _ => s"<p>$text</p>".getBytes("UTF-8")
          }
          val r = EncodingSniff.sniffHtmlEncoding(bytes, None)
          IdEnc(id, r.encoding, r.source)
        }.toDF()
    }),

    "q_tree_query" -> ((s, dir) =>
      // walk / walkElements / findAllByAttr / findById in one oracle-checked
      // query (2.4 tree-query family)
      overHtml[IdTreeQuery](s, dir,
        "concat('<div data-k=\"', lang, '\"><span id=\"s1\">', text," +
          "'</span><span data-k=\"', source, '\">', lang, '</span></div>')") { (id, h) =>
        val tree = HtmlParser.parse(h)
        var nNodes = 0L
        Traversal.walk(tree)((_, _) => nNodes += 1)
        var nElements = 0L
        Traversal.walkElements(tree)((_, _) => nElements += 1)
        val attrVals = Traversal.findAllByAttr(tree.children, "data-k")
          .map(_.attr("data-k").getOrElse("")).mkString(",")
        val s1 = Traversal.findAllByAttr(tree.children, "id", Some("s1")).next()
        val roundtrip = Traversal.findById(tree.children, s1.id).contains(s1)
        IdTreeQuery(id, nNodes, nElements, attrVals,
          Traversal.textContent(s1), roundtrip)
      }),

    // ---- tree queries: fragment / outline / chunk / serialize / patch --
    "q_fragment" -> ((s, dir) =>
      overHtml[IdText](s, dir,
        "concat('<p>', lang, '</p><p>', source, '</p>')") { (id, h) =>
        IdText(id, VisibleText.ofFragment(HtmlParser.parseFragment(h, "body")))
      }),

    "q_outline" -> ((s, dir) =>
      overHtmlFlat[IdOutline](s, dir,
        "concat('<h1>', source, '</h1><section><h2>', lang, '</h2></section>')") { (id, h) =>
        Traversal.outline(HtmlParser.parse(h).children).entries.iterator.zipWithIndex
          .map { case (e, i) => IdOutline(id, i.toLong, e.depth.toLong, e.tagName, e.text) }
      }),

    "q_chunk" -> ((s, dir) =>
      overHtmlFlat[IdChunk](s, dir,
        "concat('<p>', text, '</p><p>', lang, '</p>')") { (id, h) =>
        val frag = HtmlParser.parseFragment(h, "body")
        Traversal.chunk(frag.children, ChunkOptions(maxChars = 16)).iterator
          .map(c => IdChunk(id, c.index.toLong, c.content))
      }),

    "q_serialize" -> ((s, dir) =>
      overHtml[IdSerialized](s, dir, "concat('<p>', text, '</p>')") { (id, h) =>
        IdSerialized(id, Serializer.serialize(HtmlParser.parse(h)))
      }),

    "q_patch" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir)
        .select(col("doc_id").cast("long"), col("text"), col("source"), col("lang"))
        .as[(Long, String, String, String)]
        .map { case (id, text, source, lang) =>
          val src = s"""<div id="a">$text</div>"""
          val tree = HtmlParser.parse(src, ParseOptions(captureSpans = true))
          val div = Traversal.findAllByTagName(tree.children, "div").next()
          val textNode = div.children.head
          val plan = Patch.computePatch(src,
            Seq(SetAttr(div.id, "id", source), ReplaceText(textNode.id, lang)))
          IdSerialized(id, Patch.applyPatchPlan(src, plan))
        }.toDF()
    }),

    // ---- transcript pipeline (north rule) ------------------------------
    "q_transcript_extract" -> ((s, dir) => {
      import s.implicits._
      val turns = Transcripts.fromDocuments(s, dir)
        .withColumn("turn_idx", col("turn_idx").cast("int")).as[TranscriptTurn]
      val extracted = Extraction.extract(turns)
      extracted.toDF()
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))).cast("long"))
        .select(col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
          col("extracted_text"), col("rn"))
    }),

    "q_conv_agg" -> ((s, dir) => {
      import s.implicits._
      val turns = Transcripts.fromDocuments(s, dir)
        .withColumn("turn_idx", col("turn_idx").cast("int")).as[TranscriptTurn]
      Extraction.extract(turns).toDF()
        .groupBy(col("conv_id"))
        .agg(
          count(lit(1)).as("n_turns"),
          sum(length(col("extracted_text"))).cast("long").as("n_chars"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("turn_idx"), col("extracted_text")))),
              e => e.getField("extracted_text")),
            "\n\n").as("conv_text"))
    }),

    "q_conv_digest" -> ((s, dir) => {
      // constant-size-per-group conversation checksum via a typed
      // Aggregator — the scale-safe alternative to q_conv_agg's
      // collect_list (no giant rows at 10^12 turns)
      import s.implicits._
      val turns = Transcripts.fromDocuments(s, dir)
        .withColumn("turn_idx", col("turn_idx").cast("int")).as[TranscriptTurn]
      Extraction.extract(turns)
        .map(e => (e.conv_id, (e.turn_idx.toLong, e.extracted_text)))
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(new ConvDigest.Agg().toColumn.name("st"))
        .select(col("key").as("conv_id"),
          col("st.n_turns").as("n_turns"),
          col("st.digest").as("digest"),
          col("st.n_chars").as("n_chars"))
    }),

    "q_turn_order" -> ((s, dir) => {
      val turns = Transcripts.fromDocuments(s, dir)
      val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      turns.withColumn("prev", lag(col("turn_idx"), 1).over(w))
        .groupBy(col("conv_id"))
        .agg(count(lit(1)).as("n_turns"),
          min(col("turn_idx")).as("min_idx"),
          max(col("turn_idx")).as("max_idx"),
          sum(when(col("prev").isNotNull && col("turn_idx") - col("prev") =!= 1, 1L)
            .otherwise(0L)).as("n_gaps"))
    }),

    "q_dataset_digest" -> ((s, dir) => {
      // global order-independent dataset checksum: XOR of Extraction.rowDigest
      // (FNV-1a over conv_id/turn_idx/text) across every extracted turn. The
      // DuckDB oracle replays the same FNV chain in HUGEINT, so this is the
      // hash-replay gate for the lineage digest math itself; the query also
      // asserts that the per-partition lineage XOR folds to the same value
      // (the resumability invariant the pipeline relies on).
      import s.implicits._
      val turns = Transcripts.fromDocuments(s, dir)
        .withColumn("turn_idx", col("turn_idx").cast("int")).as[TranscriptTurn]
      val extracted = Extraction.extract(turns)
      val viaLineage = Extraction.lineage(extracted).toDF()
        .agg(expr("bit_xor(digest)").as("ldigest"), sum(col("n_rows")).as("lrows"))
      extracted
        .map(e => (Extraction.rowDigest(e.conv_id, e.turn_idx, e.extracted_text),
          e.extracted_text.length.toLong))
        .toDF("d", "len")
        .agg(count(lit(1)).as("n_turns"), expr("bit_xor(d)").as("digest"),
          sum(col("len")).as("n_chars"))
        .crossJoin(viaLineage) // both sides are single aggregate rows
        .select(col("n_turns"), col("digest"), col("n_chars"),
          (col("digest") === col("ldigest") &&
            col("n_turns") === col("lrows")).as("lineage_consistent"))
    }),

    // ---- training-data ops: dedup --------------------------------------
    "q_dedup_exact" -> ((s, dir) => Dedup.exactGroups(docs(s, dir))),

    "q_minhash_bands" -> ((s, dir) =>
      Dedup.lshBands(Dedup.minhashSignatures(docs(s, dir)), bands = 16).toDF()
        .select(col("doc_id"), col("band").cast("long").as("band"), col("band_hash"))),

    "q_near_dup_pairs" -> ((s, dir) => {
      // plant near-duplicates (one word prepended) for doc_id < 50, then the
      // MinHash-LSH path must recover exactly the planted pairs
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val planted = base.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("zz "), col("text")).as("text"))
      val corpus = base.unionAll(planted)
      val sigs = Dedup.minhashSignatures(corpus)
      val cands = Dedup.candidatePairs(Dedup.lshBands(sigs, bands = 16))
      // organic near-dups exist in the synthetic corpus too; the oracle can
      // only enumerate the planted relation, so assert completeness on it:
      // every planted pair must be found by LSH and verify at jaccard>=0.5.
      // Verification is fully distributed (join text back by id) — no
      // driver-side materialization of the corpus.
      Dedup.verifyCandidates(cands, corpus)
        .filter(col("id_b") - col("id_a") === 1000000L && col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
    }),

    // ---- near-dup clustering: connected components over a pair graph
    // that is CLOSED-FORM in doc_id — stars {3k, 3k+1, 3k+2} whose roots
    // chain (3k -> 3k-3 unless k % 4 == 0), giving components of 12
    // consecutive ids with small diameter. The operator must genuinely
    // propagate labels across the chain joins; the oracle restates the
    // fixpoint directly: rep = id - id % 12. (A root at the corpus max id
    // with no leaves/chain is isolated and appears on neither side.)
    "q_dedup_clusters" -> ((s, dir) => {
      val ids = docs(s, dir).select(col("doc_id").cast("long").as("id"))
      val stars = ids.filter(col("id") % 3 =!= 0)
        .select(col("id").as("id_a"), (col("id") - col("id") % 3).as("id_b"))
      val chains = ids.filter(col("id") % 3 === 0 && (col("id") / 3) % 4 =!= 0)
        .select(col("id").as("id_a"), (col("id") - 3).as("id_b"))
      Dedup.nearDupClusters(stars.unionAll(chains))
    }),

    // ---- C4-style line-level dedup: documents are given a deterministic
    // multi-line shape (shared header + original text + one of 5 rotating
    // footers); lines repeating in >= 50 distinct docs are boilerplate.
    // The oracle recomputes BOTH operators from the same definition.
    "q_line_dedup" -> ((s, dir) => {
      val d2 = docs(s, dir).select(col("doc_id"),
        concat_ws("\n", lit("shared header"), col("text"),
          concat(lit("footer "), (col("doc_id") % 5).cast("string"))).as("text"))
      Dedup.boilerplateLines(d2, minDocs = 50L)
    }),

    "q_line_clean" -> ((s, dir) => {
      val d2 = docs(s, dir).select(col("doc_id"),
        concat_ws("\n", lit("shared header"), col("text"),
          concat(lit("footer "), (col("doc_id") % 5).cast("string"))).as("text"))
      Dedup.removeBoilerplateLines(d2, minDocs = 50L)
    }),

    "q_simhash" -> ((s, dir) => Dedup.simhashes(docs(s, dir)).toDF()),

    "q_embed_near_dup" -> ((s, dir) => {
      // plant exact-duplicate embeddings for vec_id < 30; the LSH-bucketed
      // cosine near-dup path must recover exactly the planted relation at
      // threshold 0.99 (organic random pairs never get close)
      val base = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") < 30)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Dedup.embeddingNearDups(base.unionAll(planted), threshold = 0.99,
          nPlanes = 8, seed = 42L, dim = Some(64))
        .filter(col("id_b") - col("id_a") === 1000000L)
        .select(col("id_a"), col("id_b"))
    }),

    // ---- training-data ops: text analysis ------------------------------
    "q_quality" -> ((s, dir) => {
      val cols = TextStats.qualityColumns(col("text"))
      docs(s, dir).select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    }),

    "q_token_stats" -> ((s, dir) => {
      val cols = TextStats.tokenCountColumns(col("text"))
      docs(s, dir).select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    }),

    "q_langid" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextStats.langIdColumn(col("text")).as("predicted_lang"))),

    "q_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextStats.fingerprintColumn(col("text")).as("fp"))),

    // ---- training-data ops: similarity search --------------------------
    "q_ann_cosine" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    "q_ann_lsh_buckets" -> ((s, dir) =>
      Similarity.lshBuckets(embeddings(s, dir), dim = Some(64)).toDF()
        .select(col("vec_id"), col("bucket").cast("long").as("bucket"))),

    "q_ann_lsh_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 20), k = 5,
          nPlanes = 8, seed = 42L, dim = Some(64))
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // IVF coarse-quantized ANN with the training-free seeded centroids, so
    // the oracle can restate the centroid coordinates as exact dyadic
    // rationals and replay assignment, probe selection, and ranking.
    // (kmeansTrain-ed centroids are exercised in OpsSpec against brute force.)
    "q_ann_ivf_lists" -> ((s, dir) =>
      Similarity.ivfLists(embeddings(s, dir), Similarity.ivfCentroids(8, 64, 42L))
        .toDF()
        .select(col("vec_id"), col("list_id").cast("long").as("list_id"))),

    "q_ann_ivf_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20), k = 5,
          centroids = Similarity.ivfCentroids(8, 64, 42L), nProbe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // ---- multimodal: REAL javax.imageio decode over deterministic PNGs.
    // Every doc_id not divisible by 7 carries Multimodal.syntheticPng(id)
    // (closed-form pixels); the rest carry raw text bytes to exercise the
    // stub fallback. The oracle re-states width/height/channels AND the
    // exact raster sample sum from the generator formulas alone — if the
    // decode were fake, pixel_sum could not match.
    "q_multimodal" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val payload =
            if (id % 7L == 0L) text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            else Multimodal.syntheticPng(id)
          (id, payload)
        }
        .toDF("doc_id", "payload")
      Multimodal.decode(media).toDF()
        .select(col("doc_id"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.channels").cast("long").as("channels"),
          col("meta.format").as("format"),
          col("pixel_sum"))
    }),

    // ---- multimodal audio: REAL RIFF/WAVE decode over deterministic WAVs.
    // Three arms by doc_id: % 7 == 0 rows carry raw text bytes (stub
    // fallback); % 5 == 0 rows carry Audio.syntheticFloatWav (IEEE-float
    // format 3, dyadic samples so the scaled sample sum is exact); the rest
    // carry Audio.syntheticWav (integer PCM; odd ids add a junk LIST chunk
    // so the RIFF pad-byte walk is on the oracle path). The oracle restates
    // channels/rate/bits/frames/duration AND the exact sample sum from the
    // generator formulas alone.
    "q_audio" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val payload =
            if (id % 7L == 0L) text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            else if (id % 5L == 0L) Audio.syntheticFloatWav(id)
            else Audio.syntheticWav(id)
          (id, payload)
        }
        .toDF("doc_id", "payload")
      Audio.decode(media).toDF()
        .select(col("doc_id"),
          col("meta.channels").cast("long").as("channels"),
          col("meta.sampleRate").cast("long").as("sample_rate"),
          col("meta.bits").cast("long").as("bits"),
          col("meta.nFrames").as("n_frames"),
          col("meta.format").as("format"),
          col("duration_us"),
          col("sample_sum"))
    }),

    // ---- PDF leg of the main-content pipeline: from-scratch PDF parse
    // (classic xref tables AND 1.5+ xref streams + object streams, Flate
    // with predictors, content-stream text interpreter with layout
    // assembly). Payloads are PdfGen.syntheticPdf(id) — the id selects the
    // structural writer variant (modern/classic, raw/compressed, Tj / ' /
    // TJ show styles, id%19==5 -> ENCRYPTED poison, id%17==1 classic ->
    // embedded DCTDecode image XObject with an endstream decoy) — except
    // id % 7 == 0 rows, which carry raw text bytes to exercise the
    // poison-row path. The oracle restates page count and
    // the FULL extracted text from the generator's closed-form formulas:
    // if the parser missed a page, line, kern or show operator, the strings
    // could not match.
    "q_pdf_text" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val payload =
            if (id % 7L == 0L) text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            else PdfGen.syntheticPdf(id)
          (id, payload)
        }
        .toDF("doc_id", "payload")
      PdfOps.extract(media).toDF()
        .select(col("doc_id"), col("n_pages"), col("text"), col("error"))
    }),

    // per-page LAYOUT evidence: line counts + top/bottom baseline y + the
    // first line's text, all closed-form in (doc_id, page)
    "q_pdf_layout" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .filter((id: Long) => id % 7L != 0L)
        .map((id: Long) => (id, PdfGen.syntheticPdf(id)))
        .toDF("doc_id", "payload")
      PdfOps.pages(media).toDF()
    }),

    // ---- relational sanity over the corpus -----------------------------
    "q_doc_stats" -> ((s, dir) =>
      docs(s, dir).groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          avg(col("n_chars")).as("avg_chars")))
  )

  // ------------------------------------------------------------------
  // Oracle SQL fragments for the hash-replay oracles: the DuckDB side
  // re-derives minhash/simhash/LSH values with exact integer (HUGEINT) and
  // double arithmetic, using the SAME seeded constants the Spark operators
  // use — generated here so the two sides cannot drift.

  private val TwoPow64 = "18446744073709551616::HUGEINT"

  /** FNV-1a 64-bit with wraparound, over the characters of `w`. */
  private def fnvSql(w: String): String =
    "list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
      s"list_transform(string_split($w, ''), c -> unicode(c)::HUGEINT)), " +
      s"(acc, x) -> (xor(acc, x) * 1099511628211::HUGEINT) % $TwoPow64)"

  /** Reinterpret an unsigned 64-bit HUGEINT value as a signed BIGINT. */
  private def toSignedSql(u: String): String =
    s"CAST(CASE WHEN $u >= 9223372036854775808::HUGEINT THEN $u - $TwoPow64 ELSE $u END AS BIGINT)"

  // UTF-8 byte replay over DuckDB's codepoint functions: the stub decoders
  // (Audio.decodeStub / Multimodal.decodeStub) read raw UTF-8 BYTES (first
  // byte, second byte, byte length) of the document text, while DuckDB's
  // ascii()/length() are CODEPOINT functions — so the oracle derives the
  // bytes from codepoints in closed form. Exact for ANY Unicode text, not
  // just an ASCII corpus (byte length = strlen(text) in DuckDB).
  private def utf8LeadByteSql(cp: String): String =
    s"(CASE WHEN $cp < 128 THEN $cp WHEN $cp < 2048 THEN 192 + $cp // 64 " +
      s"WHEN $cp < 65536 THEN 224 + $cp // 4096 ELSE 240 + $cp // 262144 END)"

  /** First UTF-8 byte of `text` (0 when empty). */
  private lazy val utf8Byte0Sql: String = utf8LeadByteSql("ascii(text)")

  /** Second UTF-8 byte of `text` (0 when fewer than 2 bytes): either the
    * first continuation byte of a multi-byte first character, or the
    * leading byte of the second character.
    */
  private lazy val utf8Byte1Sql: String =
    "(CASE WHEN strlen(text) < 2 THEN 0 " +
      "WHEN ascii(text) >= 65536 THEN 128 + (ascii(text) // 4096) % 64 " +
      "WHEN ascii(text) >= 2048 THEN 128 + (ascii(text) // 64) % 64 " +
      "WHEN ascii(text) >= 128 THEN 128 + ascii(text) % 64 " +
      s"ELSE ${utf8LeadByteSql("ascii(substring(text, 2, 1))")} END)"

  /** Exact HUGEINT replay of [[Extraction.rowDigest]]: FNV-1a 64 folding
    * conv_id chars, a 0x1f separator mix, turn_idx, text chars, separator —
    * the oracle states the chain independently; the engine must match it
    * bit-for-bit.
    */
  private lazy val rowDigestSql: String = {
    val P = "1099511628211::HUGEINT"
    def fold(acc: String, w: String): String =
      s"list_reduce(list_prepend($acc, list_transform(string_split($w, ''), c -> unicode(c)::HUGEINT)), " +
        s"(acc, x) -> (xor(acc, x) * $P) % $TwoPow64)"
    def sep(acc: String): String = s"((xor($acc, 31::HUGEINT) * $P) % $TwoPow64)"
    val h1 = sep(fold("14695981039346656037::HUGEINT", "conv_id"))
    val h2 = s"((xor($h1, turn_idx::HUGEINT) * $P) % $TwoPow64)"
    val h3 = sep(fold(h2, "text"))
    toSignedSql(h3)
  }

  private lazy val simhashOracleSql: String = {
    "WITH h AS (SELECT doc_id, " +
      s"list_transform(string_split(text, ' '), w -> ${fnvSql("w")}) AS hashes FROM documents), " +
      "u AS (SELECT doc_id, list_sum(list_transform(range(0, 64), bit -> " +
      "CASE WHEN 2 * len(list_filter(hashes, h -> (h // (1::HUGEINT << bit)) % 2 = 1)) > len(hashes) " +
      "THEN (1::HUGEINT << bit) ELSE 0::HUGEINT END))::HUGEINT AS su FROM h) " +
      s"SELECT doc_id, ${toSignedSql("su")} AS simhash FROM u"
  }

  private lazy val minhashBandsOracleSql: String = {
    val (as, bs) = Dedup.minhashCoefficients(64, 42L)
    val aLit = as.map(a => s"$a::HUGEINT").mkString("[", ",", "]")
    val bLit = bs.map(b => s"$b::HUGEINT").mkString("[", ",", "]")
    val shingle = "words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]"
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS words, text FROM documents), " +
      "sh AS (SELECT doc_id, CASE WHEN len(words) < 3 THEN " +
      s"[(${fnvSql("text")}) % 2305843009213693952::HUGEINT] " +
      "ELSE list_transform(range(0, len(words) - 2), i -> " +
      s"(${fnvSql(shingle)}) % 2305843009213693952::HUGEINT) END AS xs FROM w), " +
      "sig AS (SELECT doc_id, list_transform(range(1, 65), j -> " +
      s"list_min(list_transform(xs, x -> ($aLit[j] * x + $bLit[j]) % 2305843009213693951::HUGEINT))) AS sigs FROM sh), " +
      "bands AS (SELECT doc_id, t.band, sigs FROM sig, range(0, 16) t(band)), " +
      "bh AS (SELECT doc_id, band, list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
      "[sigs[band*4+1], sigs[band*4+2], sigs[band*4+3], sigs[band*4+4]]), " +
      s"(acc, x) -> (xor(acc, x) * 1099511628211::HUGEINT) % $TwoPow64) AS u FROM bands) " +
      s"SELECT doc_id, CAST(band AS BIGINT) AS band, ${toSignedSql("u")} AS band_hash FROM bh"
  }

  /** The random-hyperplane bucket id as a closed-form SQL expression: every
    * plane value is an exact dyadic rational (k/2^23), and the dot product
    * accumulates left-to-right in double — bit-identical to
    * [[Similarity.bucketOf]].
    */
  private lazy val lshBucketExprSql: String = {
    val planes = Similarity.hyperplanes(8, 64, 42L)
    planes.zipWithIndex.map { case (row, p) =>
      val dot = row.zipWithIndex.map { case (v, i) =>
        s"embedding[${i + 1}]*(${(v.toDouble * 8388608.0).toLong}/8388608.0)"
      }.mkString(" + ")
      s"(CASE WHEN ($dot) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")
  }

  private lazy val lshTopKOracleSql: String = {
    val probeList = "[bucket" + (0 until 8).map(p => s", xor(bucket, ${1 << p})").mkString + "]"
    s"WITH bucketed AS (SELECT vec_id, embedding, CAST($lshBucketExprSql AS BIGINT) AS bucket FROM embeddings), " +
      s"probes AS (SELECT vec_id AS query_id, embedding AS q_embedding, unnest($probeList) AS bucket " +
      "FROM bucketed WHERE vec_id < 20), " +
      "scored AS (SELECT p.query_id, b.vec_id AS neighbor_id, " +
      "list_cosine_similarity(p.q_embedding, b.embedding) AS sim " +
      "FROM probes p JOIN bucketed b USING (bucket) WHERE b.vec_id != p.query_id) " +
      "SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank, " +
      "neighbor_id FROM scored QUALIFY rank <= 5"
  }

  /** IVF oracle scaffolding: the 8×64 seeded centroid matrix as exact
    * dyadic-rational literals (numerator/2^23 − 1, the same integers
    * [[Similarity.ivfCentroidNumerator]] produces), and the per-vector
    * squared-L2 distance list as a left-fold over `(e_i − c_i)²` — the
    * identical double-accumulation order [[Similarity.sqDist]] uses.
    */
  private lazy val ivfDistancesCteSql: String = {
    val csLit = (0 until 8).map { c =>
      (0 until 64).map { d =>
        s"(${Similarity.ivfCentroidNumerator(c, d, 42L)}/8388608.0 - 1.0)"
      }.mkString("[", ",", "]")
    }.mkString("[", ",", "]")
    s"WITH cs(cl) AS (SELECT $csLit), " +
      "ds AS (SELECT vec_id, embedding, list_transform(range(0,8), c -> " +
      "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(0,64), i -> " +
      "(embedding[i+1]-cl[c+1][i+1])*(embedding[i+1]-cl[c+1][i+1]))), " +
      "(acc, x) -> acc + x)) AS d FROM embeddings, cs)"
  }

  private lazy val ivfListsOracleSql: String =
    s"$ivfDistancesCteSql SELECT vec_id, " +
      "CAST(list_position(d, list_min(d)) - 1 AS BIGINT) AS list_id FROM ds"

  private lazy val ivfTopKOracleSql: String =
    s"$ivfDistancesCteSql, " +
      "assigned AS (SELECT vec_id, embedding, list_position(d, list_min(d)) - 1 AS list_id FROM ds), " +
      "probes AS (SELECT vec_id AS query_id, embedding AS q_embedding, i AS list_id " +
      "FROM ds, range(0,8) t(i) WHERE vec_id < 20 " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d[i+1], i) <= 2), " +
      "scored AS (SELECT p.query_id, b.vec_id AS neighbor_id, " +
      "list_cosine_similarity(p.q_embedding, b.embedding) AS sim " +
      "FROM probes p JOIN assigned b USING (list_id) WHERE b.vec_id != p.query_id) " +
      "SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank, " +
      "neighbor_id FROM scored QUALIFY rank <= 5"

  def oracleSql: Map[String, String] = Map(
    "q_visible_text" ->
      "SELECT doc_id, text AS extracted_text FROM documents",

    "q_visible_text_blocks" ->
      s"SELECT doc_id, source || $NL || $NL || text || $NL || $NL || lang AS extracted_text FROM documents",

    "q_visible_text_table" ->
      s"SELECT doc_id, 'lang' || $TAB || 'source' || $NL || $NL || lang || $TAB || source AS extracted_text FROM documents",

    "q_visible_text_entities" ->
      s"SELECT doc_id, text || ' & ' || chr(169) || ' ' || chr(169) AS extracted_text FROM documents",

    "q_visible_text_hidden" ->
      s"SELECT doc_id, text || $NL || $NL || lang AS extracted_text FROM documents",

    "q_visible_text_controls" ->
      "SELECT doc_id, source || ' ' || text || ' ' || lang AS extracted_text FROM documents",

    "q_visible_text_br_pre" ->
      s"SELECT doc_id, lang || $NL || source || $NL || $NL || text AS extracted_text FROM documents",

    "q_visible_text_pre_nested" ->
      (s"SELECT doc_id, CASE CAST(doc_id % 2 AS INT) " +
        s"WHEN 0 THEN lang || $NL || source || $NL || $NL || lang || ' ' || source || $NL || $NL || text " +
        s"ELSE lang || $NL || source || $TAB || text END AS extracted_text FROM documents"),

    "q_visible_text_nested_table" ->
      s"SELECT doc_id, lang || $NL || $NL || source || $TAB || text || $NL || $NL || lang AS extracted_text FROM documents",

    "q_visible_text_aria_edge" ->
      "SELECT doc_id, lang || ' ' || source || ' ' || text AS extracted_text FROM documents",

    "q_visible_text_accname" ->
      "SELECT doc_id, lang || ' ' || text || ' ' || source || ' end' AS extracted_text FROM documents",

    "q_provenance" ->
      (s"SELECT doc_id, lang || $NL || $NL || text || $NL || $NL || source || $TAB || lang AS extracted_text, " +
        "CAST(7 AS BIGINT) AS n_tokens, FALSE AS degraded, " +
        "'text,paragraphBreak,text,paragraphBreak,text,tab,text' AS kinds FROM documents"),

    "q_parse_stream" ->
      "SELECT doc_id, text AS extracted_text FROM documents",

    "q_adv_adoption" ->
      "SELECT doc_id, lang || ' ' || text || ' ' || source AS extracted_text FROM documents",

    "q_adv_foster" ->
      (s"SELECT doc_id, lang || $NL || $NL || text AS extracted_text, " +
        "CAST(1 AS BIGINT) AS n_errors, 'missing-doctype' AS first_error FROM documents"),

    "q_adv_entities" ->
      (s"SELECT doc_id, text || ' ' || chr(8211) || ' ' || chr(169) || ' A &' AS extracted_text, " +
        "CAST(3 AS BIGINT) AS n_errors, 'missing-doctype' AS first_error FROM documents"),

    "q_adv_soup" ->
      (s"SELECT doc_id, lang || $NL || $NL || text || $NL || $NL || source AS extracted_text, " +
        "CAST(1 AS BIGINT) AS n_errors, 'missing-doctype' AS first_error " +
        "FROM documents"),

    "q_adv_foreign_template" ->
      (s"SELECT doc_id, CASE CAST(doc_id % 3 AS INT) " +
        s"WHEN 0 THEN lang || $NL || $NL || text || $NL || source " +
        s"WHEN 1 THEN lang || $NL || $NL || source " +
        "ELSE text END AS extracted_text FROM documents"),

    "q_adv_raw_modes" ->
      (s"SELECT doc_id, CASE CAST(doc_id % 3 AS INT) " +
        "WHEN 0 THEN lang " +
        s"WHEN 1 THEN lang || $NL || $NL || text || '<b>' || source || '</b>' " +
        s"ELSE lang || $NL || $NL || text || $NL || $NL || source END AS extracted_text FROM documents"),

    "q_adv_bytes_utf16" ->
      ("SELECT doc_id, text AS extracted_text, " +
        "CASE CAST(doc_id % 2 AS INT) WHEN 0 THEN 'utf-16le' ELSE 'utf-16be' END AS encoding FROM documents"),

    "q_adv_budget" ->
      ("SELECT doc_id, CASE CAST(doc_id % 2 AS INT) WHEN 0 THEN '' ELSE text END AS extracted_text, " +
        "CASE CAST(doc_id % 2 AS INT) WHEN 0 THEN 'budget:maxDepth' ELSE '' END AS budget_error FROM documents"),

    "q_trace" ->
      ("SELECT doc_id, " +
        "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN CAST(12 AS BIGINT) WHEN 1 THEN 22 ELSE 12 END AS n_events, " +
        "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN CAST(5 AS BIGINT) WHEN 1 THEN 15 ELSE 5 END AS n_transitions, " +
        "CAST(1 AS BIGINT) AS n_parse_errors, " +
        "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN CAST(4 AS BIGINT) WHEN 1 THEN 9 ELSE 10 END AS n_tokens, " +
        "'IN_BODY' AS last_to_mode FROM documents"),

    "q_textcontent" ->
      "SELECT doc_id, ' ' || lang || '  ' || source AS extracted_text FROM documents",

    // main-content selection: winner identity, extracted text, and the
    // EXACT winning score (same IEEE op order as MainContent.scoreOf:
    // ((textChars/ (1+nElems)) * (1-linkDensity)) * tagWeight + classTerm)
    "q_main_content" ->
      (s"SELECT doc_id, " +
        "CASE CAST(doc_id % 3 AS INT) WHEN 1 THEN 'article' ELSE 'div' END AS main_tag, " +
        "CASE CAST(doc_id % 3 AS INT) " +
        s"WHEN 1 THEN lang || $NL || $NL || text " +
        "ELSE text END AS extracted_text, " +
        "CASE CAST(doc_id % 3 AS INT) " +
        "WHEN 1 THEN CAST(length(lang) + length(text) AS BIGINT) " +
        "ELSE CAST(length(text) AS BIGINT) END AS text_chars, " +
        "0.0 AS link_density, " +
        "CASE CAST(doc_id % 3 AS INT) " +
        "WHEN 1 THEN (length(lang) + length(text)) / (1.0 + 2.0) * (1.0 - 0.0) * 1.5 + 0.0 " +
        "ELSE length(text) / (1.0 + 1.0) * (1.0 - 0.0) * 1.0 + 25.0 END AS score " +
        "FROM documents"),

    "q_main_content_spans" ->
      ("SELECT doc_id, 'div' AS main_tag, text AS extracted_text, " +
        "length('<div class=\"nav\"><a href=\"#\">') + length(lang) + length('</a></div>') AS span_start, " +
        "length('<div class=\"nav\"><a href=\"#\">') + length(lang) + length('</a></div>') " +
        "+ length('<div id=\"main-content\"><p>') + length(text) + length('</p></div>') AS span_end " +
        "FROM documents"),

    "q_main_transcript" ->
      ("WITH t AS (SELECT 'c' || lpad(CAST(doc_id % 40 AS VARCHAR), 4, '0') AS conv_id, " +
        "doc_id // 40 AS turn_idx, text, lang, source FROM documents) " +
        "SELECT conv_id, turn_idx, text AS extracted_text, " +
        "length('<div class=\"nav\"><a href=\"#\">') + length(lang) + length('</a></div>') AS span_start, " +
        "length('<div class=\"nav\"><a href=\"#\">') + length(lang) + length('</a></div>') " +
        "+ length('<div id=\"main-content\"><p>') + length(text) + length('</p></div>') AS span_end, " +
        "row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn FROM t"),

    "q_spans" ->
      ("SELECT doc_id, 'p' AS tag, CAST(0 AS BIGINT) AS elem_start, length(text) + 7 AS elem_end, " +
        "CAST(3 AS BIGINT) AS text_start, length(text) + 3 AS text_end FROM documents"),

    "q_parse_errors" ->
      ("SELECT doc_id, CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN CAST(1 AS BIGINT) WHEN 1 THEN 2 ELSE 2 END AS n_errors, " +
        "CASE CAST(doc_id % 3 AS INT) WHEN 2 THEN 'end-tag-with-trailing-solidus' " +
        "ELSE 'missing-doctype' END AS first_error FROM documents"),

    "q_tokenize" ->
      "SELECT doc_id, CAST(7 AS BIGINT) AS n_tokens, length(text) + length(lang) AS n_chars FROM documents",

    "q_encoding_sniff" ->
      ("SELECT doc_id, CASE CAST(doc_id % 3 AS INT) WHEN 2 THEN 'windows-1252' ELSE 'utf-8' END AS encoding, " +
        "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'bom' WHEN 1 THEN 'meta' ELSE 'default' END AS enc_source FROM documents"),

    "q_fragment" ->
      s"SELECT doc_id, lang || $NL || $NL || source AS extracted_text FROM documents",

    "q_tree_query" ->
      ("SELECT doc_id, CAST(8 AS BIGINT) AS n_nodes, CAST(6 AS BIGINT) AS n_elements, " +
        "lang || ',' || source AS attr_vals, text AS s1_text, TRUE AS id_roundtrip FROM documents"),

    "q_outline" ->
      ("SELECT doc_id, CAST(0 AS BIGINT) AS ord, CAST(2 AS BIGINT) AS depth, 'h1' AS tag, source AS heading FROM documents " +
        "UNION ALL SELECT doc_id, 1, 2, 'section', lang FROM documents " +
        "UNION ALL SELECT doc_id, 2, 3, 'h2', lang FROM documents"),

    "q_chunk" ->
      ("SELECT doc_id, CAST(0 AS BIGINT) AS chunk_idx, '<p>' || text || '</p>' AS content FROM documents " +
        "UNION ALL SELECT doc_id, 1, '<p>' || lang || '</p>' FROM documents"),

    "q_serialize" ->
      "SELECT doc_id, '<html><head></head><body><p>' || text || '</p></body></html>' AS html_out FROM documents",

    "q_patch" ->
      "SELECT doc_id, '<div id=\"' || source || '\">' || lang || '</div>' AS html_out FROM documents",

    "q_transcript_extract" ->
      (Transcripts.OracleCte +
        " SELECT conv_id, turn_idx, text AS extracted_text, " +
        "row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn FROM transcripts"),

    "q_conv_agg" ->
      (Transcripts.OracleCte +
        s" SELECT conv_id, count(*) AS n_turns, CAST(sum(length(text)) AS BIGINT) AS n_chars, " +
        s"string_agg(text, $NL || $NL ORDER BY turn_idx) AS conv_text FROM transcripts GROUP BY conv_id"),

    "q_conv_digest" ->
      (Transcripts.OracleCte +
        s", h AS (SELECT conv_id, text, ${toSignedSql(fnvSql("(CAST(turn_idx AS VARCHAR) || ':' || text)"))} AS th FROM transcripts) " +
        "SELECT conv_id, count(*) AS n_turns, bit_xor(th) AS digest, " +
        "CAST(sum(length(text)) AS BIGINT) AS n_chars FROM h GROUP BY conv_id"),

    "q_dataset_digest" ->
      (Transcripts.OracleCte +
        s", h AS (SELECT $rowDigestSql AS d, text FROM transcripts) " +
        "SELECT count(*) AS n_turns, bit_xor(d) AS digest, " +
        "CAST(sum(length(text)) AS BIGINT) AS n_chars, TRUE AS lineage_consistent FROM h"),

    "q_turn_order" ->
      (Transcripts.OracleCte +
        ", laged AS (SELECT conv_id, turn_idx, lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev FROM transcripts) " +
        "SELECT conv_id, count(*) AS n_turns, min(turn_idx) AS min_idx, max(turn_idx) AS max_idx, " +
        "CAST(sum(CASE WHEN prev IS NOT NULL AND turn_idx - prev != 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps " +
        "FROM laged GROUP BY conv_id"),

    "q_dedup_exact" ->
      "SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS rep_id FROM documents GROUP BY md5(text)",

    "q_near_dup_pairs" ->
      "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents WHERE doc_id < 50",

    // line-level dedup replay: same multi-line shape, same threshold
    "q_line_dedup" ->
      ("WITH d2 AS (SELECT doc_id, 'shared header' || chr(10) || text || chr(10) || " +
        "'footer ' || CAST(doc_id % 5 AS VARCHAR) AS t FROM documents), " +
        "ln AS (SELECT DISTINCT doc_id, trim(raw) AS line FROM " +
        "(SELECT doc_id, unnest(string_split(t, chr(10))) AS raw FROM d2) " +
        "WHERE trim(raw) <> '') " +
        "SELECT line, count(DISTINCT doc_id) AS n_docs FROM ln " +
        "GROUP BY line HAVING count(DISTINCT doc_id) >= 50"),

    "q_line_clean" ->
      ("WITH d2 AS (SELECT doc_id, 'shared header' || chr(10) || text || chr(10) || " +
        "'footer ' || CAST(doc_id % 5 AS VARCHAR) AS t FROM documents), " +
        "p AS (SELECT doc_id, generate_subscripts(ls, 1) AS pos, unnest(ls) AS raw " +
        "FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d2)), " +
        "pl AS (SELECT doc_id, pos, raw, trim(raw) AS line FROM p), " +
        "ln AS (SELECT DISTINCT doc_id, trim(raw) AS line FROM " +
        "(SELECT doc_id, unnest(string_split(t, chr(10))) AS raw FROM d2) " +
        "WHERE trim(raw) <> ''), " +
        "boiler AS (SELECT line FROM ln GROUP BY line HAVING count(DISTINCT doc_id) >= 50) " +
        "SELECT pl.doc_id, " +
        "coalesce(string_agg(pl.raw, chr(10) ORDER BY pl.pos) " +
        "FILTER (WHERE b.line IS NULL OR pl.line = ''), '') AS clean_text, " +
        "count(*) FILTER (WHERE b.line IS NULL OR pl.line = '') AS n_lines_kept, " +
        "count(*) FILTER (WHERE b.line IS NOT NULL AND pl.line <> '') AS n_lines_dropped " +
        "FROM pl LEFT JOIN boiler b ON pl.line = b.line " +
        "GROUP BY pl.doc_id"),

    // fixpoint of min-label propagation over the closed-form pair graph:
    // components are the 12-id blocks; a block-aligned root at the corpus
    // max id has no incident pair and is excluded on both sides
    "q_dedup_clusters" ->
      ("SELECT doc_id AS id, doc_id - doc_id % 12 AS rep_id FROM documents " +
        "WHERE NOT (doc_id % 12 = 0 AND doc_id = (SELECT max(doc_id) FROM documents))"),

    "q_embed_near_dup" ->
      "SELECT vec_id AS id_a, vec_id + 1000000 AS id_b FROM embeddings WHERE vec_id < 30",

    "q_quality" ->
      ("SELECT doc_id, length(text) AS n_chars, len(string_split(text, ' ')) AS n_words, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('the','a','and','of','to','in','is'))) AS n_stopwords, " +
        "CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','and','of','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio, " +
        "CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE) / len(string_split(text, ' ')) AS mean_word_len " +
        "FROM documents"),

    "q_token_stats" ->
      ("SELECT doc_id, len(string_split(text, ' ')) AS n_ws_tokens, " +
        "CAST(list_sum(list_transform(string_split(text, ' '), w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_subword_tokens, " +
        s"CAST(len(regexp_extract_all(text, '${TextStats.BpeTokenPattern}')) AS BIGINT) AS n_bpe_tokens " +
        "FROM documents"),

    "q_langid" ->
      ("SELECT doc_id, CASE WHEN len(list_filter(string_split(text, ' '), w -> w IN ('the','a','and','of','to','in','is'))) > 0 " +
        "THEN 'en' ELSE 'und' END AS predicted_lang FROM documents"),

    "q_fingerprint" ->
      ("SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split(text, ' '), w -> CAST(length(w) * 17 + ascii(w) AS BIGINT))), " +
        "(acc, x) -> (acc * 31 + x) % 2147483647) AS fp FROM documents"),

    "q_ann_cosine" ->
      ("SELECT a.vec_id AS query_id, CAST(row_number() OVER " +
        "(PARTITION BY a.vec_id ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS BIGINT) AS rank, " +
        "b.vec_id AS neighbor_id FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id " +
        "WHERE a.vec_id < 20 QUALIFY rank <= 5"),

    "q_ann_lsh_buckets" ->
      s"SELECT vec_id, CAST($lshBucketExprSql AS BIGINT) AS bucket FROM embeddings",

    "q_ann_lsh_topk" -> lshTopKOracleSql,

    "q_ann_ivf_lists" -> ivfListsOracleSql,

    "q_ann_ivf_topk" -> ivfTopKOracleSql,

    "q_simhash" -> simhashOracleSql,

    "q_minhash_bands" -> minhashBandsOracleSql,

    // Closed-form replay of Multimodal.syntheticPng: the decoded dimensions,
    // channel count AND exact raster sample sum are restated from the
    // generator formulas (PNG is lossless); stub rows replay decodeStub.
    "q_multimodal" ->
      ("WITH png AS (" +
        "SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 11 AS h, " +
        "doc_id % 256 AS idm, doc_id % 2 = 0 AS gray " +
        "FROM documents WHERE doc_id % 7 <> 0), " +
        "sums AS (" +
        "SELECT p.doc_id, CAST(SUM(CASE WHEN p.gray " +
        "THEN (7*gx.x + 13*gy.y + p.idm) % 256 " +
        "ELSE (3*gx.x + 5*gy.y + p.idm) % 256 " +
        "+ (11*gx.x + 2*gy.y + 3*p.idm) % 256 " +
        "+ (gx.x + 7*gy.y + 5*p.idm) % 256 END) AS BIGINT) AS pixel_sum " +
        "FROM png p, generate_series(0, 15) AS gx(x), " +
        "generate_series(0, 10) AS gy(y) " +
        "WHERE gx.x < p.w AND gy.y < p.h " +
        "GROUP BY p.doc_id) " +
        "SELECT p.doc_id, CAST(p.w AS BIGINT) AS width, " +
        "CAST(p.h AS BIGINT) AS height, " +
        "CAST(CASE WHEN p.gray THEN 1 ELSE 3 END AS BIGINT) AS channels, " +
        "'png' AS format, s.pixel_sum " +
        "FROM png p JOIN sums s USING (doc_id) " +
        "UNION ALL " +
        // decodeStub reads the first two UTF-8 BYTES — replayed byte-
        // faithfully from codepoints, valid for any Unicode corpus
        "SELECT doc_id, " +
        s"CAST(16 + ($utf8Byte0Sql % 64) * 16 AS BIGINT) AS width, " +
        s"CAST(16 + ($utf8Byte1Sql % 64) * 16 AS BIGINT) AS height, " +
        "CAST(3 AS BIGINT) AS channels, 'stub' AS format, " +
        "CAST(-1 AS BIGINT) AS pixel_sum " +
        "FROM documents WHERE doc_id % 7 = 0"),

    // Closed-form replay of Audio.syntheticWav / syntheticFloatWav: channel
    // count, bit depth, frame count, exact duration and the exact sample
    // sum are restated from the generator formulas (PCM is lossless; the
    // float samples are dyadic multiples of 1/256, so round(sample*256)
    // recovers the integer numerator exactly). Stub rows replay
    // Audio.decodeStub over the raw UTF-8 text BYTES (first byte and byte
    // length via the utf8Byte0Sql/strlen replay — exact for any Unicode
    // corpus, not just ASCII).
    "q_audio" ->
      ("WITH wav AS (" +
        "SELECT doc_id, 1 + doc_id % 2 AS c, " +
        "CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits, " +
        "16 + doc_id % 97 AS n, doc_id % 256 AS idm " +
        "FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 5 <> 0), " +
        "sums AS (" +
        "SELECT w.doc_id, CAST(SUM(CASE WHEN w.bits = 8 " +
        "THEN (5*gi.i + 9*gc.ch + w.idm) % 256 " +
        "ELSE ((7*gi.i + 11*gc.ch + w.idm) % 4096) - 2048 END) AS BIGINT) AS sample_sum " +
        "FROM wav w, generate_series(0, 111) AS gi(i), " +
        "generate_series(0, 1) AS gc(ch) " +
        "WHERE gi.i < w.n AND gc.ch < w.c " +
        "GROUP BY w.doc_id), " +
        "fwav AS (" +
        "SELECT doc_id, 1 + doc_id % 2 AS c, 16 + doc_id % 97 AS n, " +
        "doc_id % 256 AS idm " +
        "FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 5 = 0), " +
        "fsums AS (" +
        "SELECT f.doc_id, CAST(SUM(((13*gi.i + 17*gc.ch + f.idm) % 4096) - 2048) AS BIGINT) AS sample_sum " +
        "FROM fwav f, generate_series(0, 111) AS gi(i), " +
        "generate_series(0, 1) AS gc(ch) " +
        "WHERE gi.i < f.n AND gc.ch < f.c " +
        "GROUP BY f.doc_id) " +
        "SELECT w.doc_id, CAST(w.c AS BIGINT) AS channels, " +
        "CAST(8000 AS BIGINT) AS sample_rate, CAST(w.bits AS BIGINT) AS bits, " +
        "CAST(w.n AS BIGINT) AS n_frames, 'wav' AS format, " +
        "CAST(w.n * 125 AS BIGINT) AS duration_us, s.sample_sum " +
        "FROM wav w JOIN sums s USING (doc_id) " +
        "UNION ALL " +
        "SELECT f.doc_id, CAST(f.c AS BIGINT) AS channels, " +
        "CAST(8000 AS BIGINT) AS sample_rate, CAST(32 AS BIGINT) AS bits, " +
        "CAST(f.n AS BIGINT) AS n_frames, 'wavf' AS format, " +
        "CAST(f.n * 125 AS BIGINT) AS duration_us, fs.sample_sum " +
        "FROM fwav f JOIN fsums fs USING (doc_id) " +
        "UNION ALL " +
        s"SELECT doc_id, CAST(1 + $utf8Byte0Sql % 2 AS BIGINT) AS channels, " +
        "CAST(8000 AS BIGINT) AS sample_rate, CAST(16 AS BIGINT) AS bits, " +
        "CAST(strlen(text) AS BIGINT) AS n_frames, 'stub' AS format, " +
        "CAST(strlen(text) * 125 AS BIGINT) AS duration_us, " +
        "CAST(-1 AS BIGINT) AS sample_sum " +
        "FROM documents WHERE doc_id % 7 = 0"),

    // Closed-form replay of PdfGen.syntheticPdf: page count and the FULL
    // extracted text restated from the generator formulas (nPages = 1 +
    // id mod 3, nLines = 2 + (id+p) mod 3, text = "doc i page p line j",
    // pages joined by a blank line); non-PDF rows replay the poison path.
    "q_pdf_text" ->
      ("SELECT doc_id, CAST(0 AS BIGINT) AS n_pages, CAST(NULL AS VARCHAR) AS text, " +
        "'not_pdf' AS error FROM documents WHERE doc_id % 7 = 0 " +
        "UNION ALL " +
        // id % 19 == 5: the generator's ENCRYPTED variant — stable poison
        // code, no text (decryption is out of scope by design)
        "SELECT doc_id, CAST(0 AS BIGINT) AS n_pages, CAST(NULL AS VARCHAR) AS text, " +
        "'encrypted' AS error FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 19 = 5 " +
        "UNION ALL " +
        "SELECT doc_id, CAST(1 + doc_id % 3 AS BIGINT) AS n_pages, " +
        "list_aggregate(list_transform(range(0, 1 + doc_id % 3), p -> " +
        "list_aggregate(list_transform(range(0, 2 + (doc_id + p) % 3), j -> " +
        "'doc ' || doc_id || ' page ' || p || ' line ' || j), 'string_agg', chr(10))), " +
        "'string_agg', chr(10) || chr(10)) AS text, " +
        "CAST(NULL AS VARCHAR) AS error " +
        "FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 19 <> 5"),

    // layout replay: baseline y of line j is 720 - 20*j at font size 12
    "q_pdf_layout" ->
      ("SELECT d.doc_id, CAST(g.p AS BIGINT) AS page, " +
        "CAST(2 + (d.doc_id + g.p) % 3 AS BIGINT) AS n_lines, " +
        "CAST(720 AS BIGINT) AS top_y, " +
        "CAST(720 - 20 * (1 + (d.doc_id + g.p) % 3) AS BIGINT) AS bottom_y, " +
        "'doc ' || d.doc_id || ' page ' || g.p || ' line 0' AS first_line " +
        "FROM documents d, generate_series(0, 2) AS g(p) " +
        // encrypted docs (% 19 = 5) contribute no page rows
        "WHERE d.doc_id % 7 <> 0 AND d.doc_id % 19 <> 5 AND g.p < 1 + d.doc_id % 3"),

    "q_doc_stats" ->
      ("SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, avg(n_chars) AS avg_chars " +
        "FROM documents GROUP BY lang, source")
  )
}
