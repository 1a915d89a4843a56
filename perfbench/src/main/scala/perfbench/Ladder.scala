package perfbench

import graft.core._
import graft.pipeline.{Extraction, TranscriptTurn}

/** The per-layer ladder: single-threaded calls into each layer's public
  * functions, one rung at a time, on a workload's own turns.
  *
  * Each rung is cumulative (it calls every layer below it again), so a
  * layer's self-cost is its rung minus the rung below. Rungs are warmed in
  * interleaved rounds until every rung's ns/turn is stable, then measured in
  * interleaved rounds and reported as medians; interleaving lets a slow
  * spell of the host hit every rung alike. Allocated bytes come from
  * ThreadMXBean, as in `graft.tools.AllocProbe`.
  */
object Ladder {

  final case class Rung(layer: String, call: TranscriptTurn => Unit)

  /** Cumulative and self cost of one rung, per turn. */
  final case class Cost(layer: String, ns: Double, bytes: Double, selfNs: Double, selfBytes: Double)

  /** A token sink that only counts callbacks. Like AllocProbe's no-op
    * sink, it keeps the default range callbacks, which materialize text.
    */
  final class CountingSink extends TokenSink {
    var tokens = 0L
    def onChars(data: String, start: Int, end: Int): Unit = tokens += 1
    def onWhitespace(data: String, start: Int, end: Int): Unit = tokens += 1
    def onNull(start: Int, end: Int, count: Int): Unit = tokens += 1
    def onStartTag(tag: TagToken): Unit = tokens += 1
    def onEndTag(tag: TagToken): Unit = tokens += 1
    def onComment(data: String, start: Int, end: Int): Unit = tokens += 1
    def onDoctype(d: DoctypeTok): Unit = tokens += 1
    def onEof(pos: Int): Unit = tokens += 1
    def onParseError(code: String, start: Int, end: Int): Unit = ()
  }

  private final class ErrorCounter extends ((String, Int, Int) => Unit) {
    var n = 0L
    def apply(code: String, start: Int, end: Int): Unit = n += 1
  }

  private def html(t: TranscriptTurn): String = if (t.text == null) "" else t.text

  private def treeBuilder(t: TranscriptTurn, spans: Boolean, onError: (String, Int, Int) => Unit) =
    new TreeBuilder(html(t), scriptingEnabled = true, captureSpans = spans, onError = onError)

  /** The options the typed pipeline hands the parser. */
  val TypedParse: ParseOptions = ParseOptions(captureSpans = true, budgets = Some(Extraction.DefaultBudgets))

  /** Tokenizer, tree builder and parser rungs for one set of parse options. */
  def parseRungs(opts: ParseOptions): Seq[Rung] = {
    val sink = new CountingSink
    val noError: (String, Int, Int) => Unit = (_, _, _) => ()
    Seq(
      Rung("tokenizer", t => new Tokenizer(html(t), sink).run()),
      Rung("tree_builder", t => { treeBuilder(t, opts.captureSpans, noError).parseDocument(); () }),
      Rung("html_parser", t => { HtmlParser.parse(html(t), opts); () }))
  }

  def rungs(workload: String): Seq[Rung] = workload match {
    case "chat" => parseRungs(TypedParse) ++ Seq(
      Rung("visible_text", t => {
        VisibleText.extractWithProvenance(HtmlParser.parse(html(t), TypedParse).children, VisibleTextOptions()); ()
      }),
      Rung("extraction", t => {
        Extraction.extractOne(t, Extraction.DefaultBudgets, VisibleTextOptions()); ()
      }))
    case "pages" => parseRungs(TypedParse) ++ Seq(
      Rung("main_content", t => {
        MainContent.extract(HtmlParser.parse(html(t), TypedParse), MainContentOptions()); ()
      }),
      Rung("extraction", t => {
        Extraction.extractMainOne(t, Extraction.DefaultBudgets, MainContentOptions()); ()
      }))
  }

  private val MeasuredRounds = 5
  private val MinWarmRounds = 3
  private val MaxWarmRounds = 10
  private val StableSpread = 1.03
  private val WarmCapNs = 40L * 1000 * 1000 * 1000

  /** Warms and measures `rungs` on `sample`. When `spans` is given, every
    * measured call becomes a span under one span per rung pass. Returns the
    * costs and the number of warm-up rounds taken.
    */
  def measure(rungs: Seq[Rung], sample: Array[TranscriptTurn],
              spans: Option[(Spans, Int)]): (Seq[Cost], Int) = {
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread.getId
    val n = sample.length
    val r = rungs.length
    // call timestamps live in preallocated arrays so that recording them
    // allocates nothing inside the measured passes
    val callStart = new Array[Long](MeasuredRounds * r * n)
    val callEnd = new Array[Long](MeasuredRounds * r * n)
    val passStart = new Array[Long](MeasuredRounds * r)
    val passEnd = new Array[Long](MeasuredRounds * r)

    def pass(k: Int, slot: Int): (Double, Double) = {
      val call = rungs(k).call
      val base = (slot * r + k) * n
      val a0 = tmx.getThreadAllocatedBytes(tid)
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) {
        callStart(base + i) = System.nanoTime()
        call(sample(i))
        callEnd(base + i) = System.nanoTime()
        i += 1
      }
      val t1 = System.nanoTime()
      val bytes = tmx.getThreadAllocatedBytes(tid) - a0
      passStart(slot * r + k) = t0; passEnd(slot * r + k) = t1
      ((t1 - t0).toDouble / n, bytes.toDouble / n)
    }

    val history = Array.fill(r)(scala.collection.mutable.ArrayBuffer.empty[Double])
    def stable = history.forall { h =>
      h.length >= MinWarmRounds && { val last = h.takeRight(MinWarmRounds); last.max / last.min <= StableSpread }
    }
    val warm0 = System.nanoTime()
    var rounds = 0
    while (rounds < MinWarmRounds ||
           (!stable && rounds < MaxWarmRounds && System.nanoTime() - warm0 < WarmCapNs)) {
      (0 until r).foreach(k => history(k) += pass(k, 0)._1)
      rounds += 1
    }
    val measured = (0 until MeasuredRounds).map(slot => (0 until r).map(k => pass(k, slot)))

    spans.foreach { case (log, parent) =>
      (0 until MeasuredRounds).foreach { slot =>
        (0 until r).foreach { k =>
          val p = log.add(s"ladder.${rungs(k).layer}.pass", parent,
            Spans.us(passStart(slot * r + k)), Spans.us(passEnd(slot * r + k)))
          val base = (slot * r + k) * n
          (0 until n).foreach { i =>
            log.add(s"ladder.${rungs(k).layer}", p, Spans.us(callStart(base + i)),
              Spans.us(callEnd(base + i)), s"${sample(i).conv_id}/${sample(i).turn_idx}")
          }
        }
      }
    }

    val ns = (0 until r).map(k => Stats.median(measured.map(_(k)._1)))
    val bytes = (0 until r).map(k => Stats.median(measured.map(_(k)._2)))
    val costs = (0 until r).map { k =>
      Cost(rungs(k).layer, ns(k), bytes(k),
        if (k == 0) ns(k) else ns(k) - ns(k - 1),
        if (k == 0) bytes(k) else bytes(k) - bytes(k - 1))
    }
    (costs, rounds)
  }

  /** Per-turn counts, taken in a separate untimed pass. */
  final case class Counts(tokens: Double, nodes: Double, parseErrors: Double,
                          visibleTokens: Double, failed: Long)

  private def domNodes(n: DomNode): Long = n match {
    case p: DomParent =>
      var c = 1L
      var i = 0
      while (i < p.children.length) { c += domNodes(p.children(i)); i += 1 }
      p match {
        case e: DomElement if e.templateContent != null => c + domNodes(e.templateContent)
        case _ => c
      }
    case _ => 1L
  }

  def counts(workload: String, sample: Array[TranscriptTurn]): Counts = {
    var tokens, nodes, errors, vt, failed = 0L
    sample.foreach { t =>
      val sink = new CountingSink
      new Tokenizer(html(t), sink).run()
      tokens += sink.tokens
      val onError = new ErrorCounter
      nodes += domNodes(treeBuilder(t, TypedParse.captureSpans, onError).parseDocument())
      errors += onError.n
      val e =
        if (workload == "pages") Extraction.extractMainOne(t, Extraction.DefaultBudgets, MainContentOptions())
        else Extraction.extractOne(t, Extraction.DefaultBudgets, VisibleTextOptions())
      if (e.budget_error.nonEmpty) failed += 1
      vt += e.spans.length // one span row per provenance token on the visible-text path
    }
    val n = sample.length.toDouble
    Counts(tokens / n, nodes / n, errors / n, vt / n, failed)
  }
}
