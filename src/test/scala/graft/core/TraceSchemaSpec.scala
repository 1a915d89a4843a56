package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Trace observability schema (reference: test/control/trace-schema.test.js):
  * structured events across tokenization/tree phases, parseError events for
  * malformed input, maxTraceEvents/maxTraceBytes budget enforcement, and the
  * node count and depth the trace and the node/depth budgets report.
  */
class TraceSchemaSpec extends AnyFunSuite {

  private def traced(html: String): Vector[TraceEvent] =
    HtmlParser.parse(html, ParseOptions(trace = true,
      budgets = Some(Budgets(maxTraceEvents = Some(128), maxTraceBytes = Some(32768)))))
      .trace.get

  test("trace emits structured events across tokenization and tree phases") {
    val events = traced(
      "<!doctype html><table><tr><td>a</td></tr>outside<tr><td>b</td></tr></table>")
    assert(events.nonEmpty)

    val required = Set("decode", "token", "insertionModeTransition", "tree-mutation")
    var previousSeq = 0
    val seen = scala.collection.mutable.Set[String]()
    events.foreach { e =>
      assert(e.seq > previousSeq, s"seq must increase: ${e.seq} after $previousSeq")
      previousSeq = e.seq
      seen += e.kind
      e match {
        case d: TraceDecodeEvent =>
          assert(d.source.nonEmpty && d.encoding.nonEmpty && d.sniffSource.nonEmpty)
        case t: TraceTokenEvent => assert(t.count >= 0)
        case m: TraceInsertionModeTransitionEvent =>
          assert(m.fromMode.nonEmpty && m.toMode.nonEmpty && m.fromMode != m.toMode)
        case t: TraceTreeMutationEvent =>
          assert(t.nodeCount > 0 && t.errorCount >= 0)
        case b: TraceBudgetEvent =>
          assert(b.budget.nonEmpty && (b.status == "ok" || b.status == "exceeded"))
        case p: TraceParseErrorEvent => assert(p.parseErrorId.nonEmpty)
        case s: TraceStreamEvent     => assert(s.bytesRead >= 0)
      }
    }
    required.foreach(k => assert(seen.contains(k), s"missing kind $k"))
  }

  test("trace includes parseError events for malformed input") {
    val errs = traced("<div><span></div>").collect { case p: TraceParseErrorEvent => p }
    assert(errs.nonEmpty)
    errs.foreach(p => assert(p.parseErrorId.nonEmpty))
  }

  test("trace is bounded by maxTraceEvents") {
    val e = intercept[BudgetExceededException] {
      HtmlParser.parse("<p>a</p>", ParseOptions(trace = true,
        budgets = Some(Budgets(maxTraceEvents = Some(3), maxTraceBytes = Some(4096)))))
    }
    // the fourth event (tree-mutation, after decode, budget and token) trips
    assert(e.payload == BudgetExceededPayload("maxTraceEvents", 3L, 4L))
  }

  test("trace is bounded by maxTraceBytes") {
    val e = intercept[BudgetExceededException] {
      HtmlParser.parse("<p>a</p>", ParseOptions(trace = true,
        budgets = Some(Budgets(maxTraceBytes = Some(64)))))
    }
    // the first event's JSON alone is 83 characters
    assert(e.payload == BudgetExceededPayload("maxTraceBytes", 64L, 83L))
  }

  test("well-formed document produces the expected event sequence") {
    val events = traced("<p>hello</p>")
    val kinds = events.map(_.kind)
    // decode, maxInputBytes budget, token, tree-mutation, 5 transitions
    // (INITIAL→BEFORE_HTML→BEFORE_HEAD→IN_HEAD→AFTER_HEAD→IN_BODY),
    // maxNodes budget, maxDepth budget
    assert(kinds.take(4) == Vector("decode", "budget", "token", "tree-mutation"))
    val transitions = events.collect { case t: TraceInsertionModeTransitionEvent => t }
    assert(transitions.length == 5, transitions.map(t => s"${t.fromMode}->${t.toMode}"))
    assert(transitions.head.fromMode == "INITIAL")
    assert(transitions.last.toMode == "IN_BODY")
    assert(kinds.takeRight(2) == Vector("budget", "budget"))
    // token count: <p>, chars, </p>, EOF
    assert(events.collect { case t: TraceTokenEvent => t.count }.head == 4)
  }

  test("parseBytes appends a sniff decode event") {
    val bytes = "<meta charset=utf-8><p>x</p>".getBytes("UTF-8")
    val tree = HtmlParser.parseBytes(bytes, ParseOptions(trace = true))
    val decodes = tree.trace.get.collect { case d: TraceDecodeEvent => d }
    assert(decodes.map(_.source) == Vector("input", "sniff"))
    assert(decodes.last.encoding == "utf-8" && decodes.last.sniffSource == "meta")
    assert(tree.trace.get.last.kind == "decode")
  }

  test("parseStream appends sniff, stream, and buffered-budget events") {
    val bytes = "<p>streamed</p>".getBytes("UTF-8")
    val tree = Streaming.parseStream(bytes.grouped(4), ParseOptions(trace = true))
    val tail = tree.trace.get.takeRight(3)
    assert(tail.map(_.kind) == Vector("decode", "stream", "budget"))
    assert(tail(1).asInstanceOf[TraceStreamEvent].bytesRead == bytes.length.toLong)
    val b = tail(2).asInstanceOf[TraceBudgetEvent]
    assert(b.budget == "maxBufferedBytes" && b.status == "ok")
  }

  test("trace events serialize to well-formed JSON with stable seq") {
    val events = traced("<div><span></div>")
    events.zipWithIndex.foreach { case (e, i) =>
      assert(e.seq == i + 1)
      val json = e.toJson
      assert(json.startsWith(s"""{"seq":${i + 1},"kind":"${e.kind}"""), json)
    }
  }

  test("traced parse reports the tree's node count and depth") {
    // the document node counts, and <html> sits at depth 2
    Seq("" -> (4, 3L), "<div><div><div>x</div></div></div>" -> (8, 7L)).foreach {
      case (html, (nodes, depth)) =>
        val events = traced(html)
        assert(events.collect { case t: TraceTreeMutationEvent => t.nodeCount } == Vector(nodes), html)
        val actual = events.collect { case b: TraceBudgetEvent => b.budget -> b.actual }.toMap
        assert(actual("maxNodes") == nodes.toLong && actual("maxDepth") == depth, html)
    }
  }

  test("parseFragment's node and depth budgets report the fragment's size") {
    def actual(html: String, budgets: Budgets): Long =
      intercept[BudgetExceededException] {
        HtmlParser.parseFragment(html, "body", ParseOptions(budgets = Some(budgets)))
      }.payload.actual
    // the fragment root counts, top-level nodes sit at depth 2, and an
    // empty fragment has depth 1
    Seq("" -> (1L, 1L), "hello" -> (2L, 2L), "<div><p><b>x</b></p></div>" -> (5L, 5L)).foreach {
      case (html, (nodes, depth)) =>
        assert(actual(html, Budgets(maxNodes = Some(0))) == nodes, html)
        assert(actual(html, Budgets(maxDepth = Some(0))) == depth, html)
    }
  }

  test("trace is absent by default") {
    assert(HtmlParser.parse("<p>x</p>").trace.isEmpty)
  }

  /** Round-4 sweep regression (seeds 0x7A7A7A01 / 0x5EED900D): parse5's
    * `_resetInsertionModeForSelect` (parser/index.js:632-646) assigns
    * `insertionMode` ONCE with the final answer, so resetting inside
    * `<table><select><template>` must trace a single
    * `* -> IN_SELECT_IN_TABLE` transition — a provisional IN_SELECT followed
    * by a correction emitted two events. Expected sequences captured from
    * the reference's executable via ref_extract_dump.mjs.
    */
  test("select-in-table-in-template reset traces one transition (r4 regression)") {
    def transitions(html: String): Vector[(String, String)] =
      traced(html).collect {
        case t: TraceInsertionModeTransitionEvent => (t.fromMode, t.toMode)
      }
    val common = Vector(
      "INITIAL" -> "BEFORE_HTML", "BEFORE_HTML" -> "BEFORE_HEAD",
      "BEFORE_HEAD" -> "IN_HEAD", "IN_HEAD" -> "AFTER_HEAD",
      "AFTER_HEAD" -> "IN_BODY", "IN_BODY" -> "IN_TABLE",
      "IN_TABLE" -> "IN_SELECT_IN_TABLE",
      "IN_SELECT_IN_TABLE" -> "IN_TEMPLATE")
    // </template> pops template modes, then resetInsertionMode lands
    // directly on IN_SELECT_IN_TABLE (select below a table on the stack)
    assert(transitions("<table><select><template>x</template></select></table>") ==
      common ++ Vector(
        "IN_TEMPLATE" -> "IN_SELECT_IN_TABLE",
        "IN_SELECT_IN_TABLE" -> "IN_TABLE", "IN_TABLE" -> "IN_BODY"))
    // premature </select> inside the template: ul switched to IN_BODY,
    // </template> reset must again be a single hop to IN_SELECT_IN_TABLE
    assert(transitions("<table><select><template><ul>a</select></template></table>y") ==
      common ++ Vector(
        "IN_TEMPLATE" -> "IN_BODY",
        "IN_BODY" -> "IN_SELECT_IN_TABLE",
        "IN_SELECT_IN_TABLE" -> "IN_TABLE", "IN_TABLE" -> "IN_BODY"))
  }

  /** Round-4 sweep regression (seed 0x2B2B2B2B): parse5's endTagInRow for
    * tbody/tfoot/thead (parser/index.js:2850) closes the row when EITHER
    * the named section OR a tr is in table scope — the spec would ignore a
    * </tbody> whose tbody is out of scope. With a tr directly in template
    * content, </tbody> must therefore trace IN_ROW -> IN_TABLE_BODY before
    * the end-of-input template unwinding; a spec-faithful builder skips
    * that hop. Expected sequence captured from the reference's executable.
    */
  test("out-of-scope </tbody> in a template row still closes the row (r4 regression)") {
    val transitions = traced("<template id=i><tr hidden=false></tbody>").collect {
      case t: TraceInsertionModeTransitionEvent => (t.fromMode, t.toMode)
    }
    assert(transitions == Vector(
      "INITIAL" -> "BEFORE_HTML", "BEFORE_HTML" -> "BEFORE_HEAD",
      "BEFORE_HEAD" -> "IN_HEAD", "IN_HEAD" -> "IN_TEMPLATE",
      "IN_TEMPLATE" -> "IN_TABLE_BODY", "IN_TABLE_BODY" -> "IN_ROW",
      "IN_ROW" -> "IN_TABLE_BODY",
      "IN_TABLE_BODY" -> "IN_HEAD", "IN_HEAD" -> "AFTER_HEAD",
      "AFTER_HEAD" -> "IN_BODY"))
  }
}
