package graft.tools

import graft.core._
import graft.pipeline.{Extraction, TranscriptTurn, Transcripts}

/** Throttle-immune perf probe: allocated bytes per operation via
  * ThreadMXBean (deterministic on a warmed JVM regardless of host noise —
  * this sandbox throttles intermittently, making wall-clock micro A/Bs
  * useless, but allocation per op is exact).
  */
object AllocProbe {
  def main(args: Array[String]): Unit = {
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread.getId
    val n = 20000
    val htmls = (0 until n).map(i => Transcripts.htmlFor(i.toLong * 2654435761L, i)).toArray
    val turns = (0 until n).map(i =>
      TranscriptTurn(f"c$i%06d", i, "user", htmls(i), "", new java.sql.Timestamp(0L))).toArray

    def measure(name: String)(f: Int => Unit): Unit = {
      var i = 0
      // warm: JIT + allocation paths settle (one pass over the inputs left
      // the first line's reading varying between identical runs)
      while (i < 3 * n) { f(i % n); i += 1 }
      val a0 = tmx.getThreadAllocatedBytes(tid)
      i = 0
      while (i < n) { f(i); i += 1 }
      val per = (tmx.getThreadAllocatedBytes(tid) - a0).toDouble / n
      println(f"$name%-34s $per%10.0f bytes/op")
    }

    // phase separation: tokenizer alone, tokenizer+tree (no conversion)
    object NoopSink extends TokenSink {
      def onChars(data: String, start: Int, end: Int): Unit = ()
      def onWhitespace(data: String, start: Int, end: Int): Unit = ()
      def onNull(start: Int, end: Int, count: Int): Unit = ()
      def onStartTag(tag: TagToken): Unit = ()
      def onEndTag(tag: TagToken): Unit = ()
      def onComment(data: String, start: Int, end: Int): Unit = ()
      def onDoctype(d: DoctypeTok): Unit = ()
      def onEof(pos: Int): Unit = ()
      def onParseError(code: String, start: Int, end: Int): Unit = ()
    }
    measure("tokenize only (noop sink)")(i => new Tokenizer(htmls(i), NoopSink).run())
    if (args.contains("shapes")) {
      measure("tok empty (fixed cost)")(_ => new Tokenizer("", NoopSink).run())
      measure("treebuild empty (fixed cost)") { _ =>
        new TreeBuilder("", scriptingEnabled = true, captureSpans = false,
          onError = (_, _, _) => ()).parseDocument(); ()
      }
      // per-shape attribution: htmlFor switches on seed%10
      (0 until 10).foreach { shape =>
        val doc = graft.pipeline.Transcripts.htmlFor(shape.toLong, 1)
        measure(f"tok shape$shape (${doc.length}%4d ch)")(_ => new Tokenizer(doc, NoopSink).run())
      }
    }
    measure("tokenize+treebuild (no convert)") { i =>
      new TreeBuilder(htmls(i), scriptingEnabled = true, captureSpans = false,
        onError = (_, _, _) => ()).parseDocument(); ()
    }
    measure("parse")(i => HtmlParser.parse(htmls(i)))
    measure("parse+captureSpans")(i =>
      HtmlParser.parse(htmls(i), ParseOptions(captureSpans = true)))
    measure("parse+visibleText") { i =>
      VisibleText.ofDocument(HtmlParser.parse(htmls(i))); ()
    }
    measure("parse+vt+tokensWithProvenance") { i =>
      val t = HtmlParser.parse(htmls(i), ParseOptions(captureSpans = true))
      VisibleText.ofDocument(t)
      VisibleText.tokensWithProvenance(t.children); ()
    }
    measure("extractOne (full)")(i =>
      Extraction.extractOne(turns(i), Extraction.DefaultBudgets, VisibleTextOptions()))
    // minhash coefficient hoist (r5): seed-variant re-derives the k
    // coefficient arrays per row; the pipeline uses the hoisted variant
    val (mas, mbs) = graft.ops.Dedup.minhashCoefficients(64, 42L)
    measure("minhash sig (per-row coeffs)") { i =>
      graft.ops.Dedup.minhashSignature(htmls(i), 64, 3, 42L); ()
    }
    measure("minhash sig (hoisted coeffs)") { i =>
      graft.ops.Dedup.minhashSignature(htmls(i), 64, 3, mas, mbs); ()
    }
  }
}
