package graft.core

import scala.collection.mutable.ArrayBuffer

/** Opt-in observability events (reference: src/public/types.ts:101-165 —
  * the 7-variant TraceEvent union, surfaced by parse/parseBytes/parseStream
  * at src/public/mod.ts:475-588, 600-634, 900-936).
  *
  * Every event carries a 1-based `seq`; `maxTraceEvents` bounds the event
  * count and `maxTraceBytes` the cumulative JSON-rendered size, both
  * enforced at push time exactly like the reference's pushTrace
  * (mod.ts:193-213).
  */
sealed trait TraceEvent {
  def seq: Int
  def kind: String

  /** JSON rendering, field order matching the reference's object spreads so
    * maxTraceBytes accounting is comparable.
    */
  def toJson: String = {
    def js(s: String): String = {
      val sb = new java.lang.StringBuilder(s.length + 2)
      sb.append('"')
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        c match {
          case '"'  => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
          case c    => sb.append(c)
        }
        i += 1
      }
      sb.append('"').toString
    }
    def opt(v: Option[_]): String = v match {
      case Some(s: String) => js(s)
      case Some(x)         => x.toString
      case None            => "null"
    }
    this match {
      case TraceDecodeEvent(seq, source, encoding, sniffSource) =>
        s"""{"seq":$seq,"kind":"decode","source":${js(source)},"encoding":${js(encoding)},"sniffSource":${js(sniffSource)}}"""
      case TraceTokenEvent(seq, count) =>
        s"""{"seq":$seq,"kind":"token","count":$count}"""
      case TraceInsertionModeTransitionEvent(seq, from, to, tt, tn, so, eo) =>
        s"""{"seq":$seq,"kind":"insertionModeTransition","fromMode":${js(from)},"toMode":${js(to)},""" +
          s""""tokenContext":{"type":${opt(tt)},"tagName":${opt(tn)},"startOffset":${opt(so)},"endOffset":${opt(eo)}}}"""
      case TraceTreeMutationEvent(seq, nodeCount, errorCount) =>
        s"""{"seq":$seq,"kind":"tree-mutation","nodeCount":$nodeCount,"errorCount":$errorCount}"""
      case TraceParseErrorEvent(seq, id, so, eo) =>
        s"""{"seq":$seq,"kind":"parseError","parseErrorId":${js(id)},"startOffset":${opt(so)},"endOffset":${opt(eo)}}"""
      case TraceBudgetEvent(seq, budget, limit, actual, status) =>
        s"""{"seq":$seq,"kind":"budget","budget":${js(budget)},"limit":${opt(limit)},"actual":$actual,"status":${js(status)}}"""
      case TraceStreamEvent(seq, bytesRead) =>
        s"""{"seq":$seq,"kind":"stream","bytesRead":$bytesRead}"""
    }
  }
}

final case class TraceDecodeEvent(seq: Int, source: String, encoding: String,
                                  sniffSource: String) extends TraceEvent {
  def kind: String = "decode"
}

final case class TraceTokenEvent(seq: Int, count: Int) extends TraceEvent {
  def kind: String = "token"
}

final case class TraceInsertionModeTransitionEvent(
    seq: Int, fromMode: String, toMode: String,
    tokenType: Option[String], tokenTagName: Option[String],
    tokenStartOffset: Option[Int], tokenEndOffset: Option[Int]) extends TraceEvent {
  def kind: String = "insertionModeTransition"
}

final case class TraceTreeMutationEvent(seq: Int, nodeCount: Int,
                                        errorCount: Int) extends TraceEvent {
  def kind: String = "tree-mutation"
}

final case class TraceParseErrorEvent(seq: Int, parseErrorId: String,
                                      startOffset: Option[Int],
                                      endOffset: Option[Int]) extends TraceEvent {
  def kind: String = "parseError"
}

final case class TraceBudgetEvent(seq: Int, budget: String, limit: Option[Long],
                                  actual: Long, status: String) extends TraceEvent {
  def kind: String = "budget"
}

final case class TraceStreamEvent(seq: Int, bytesRead: Long) extends TraceEvent {
  def kind: String = "stream"
}

/** Mutable trace accumulator with push-time budget enforcement. */
final class TraceBuffer(budgets: Option[Budgets]) {
  private val events = new ArrayBuffer[TraceEvent]
  private var bytes = 0L
  private val maxEvents = budgets.flatMap(_.maxTraceEvents).map(_.toLong)
  private val maxBytes = budgets.flatMap(_.maxTraceBytes).map(_.toLong)

  /** Append the event built from the next seq; enforces trace budgets. */
  def push(mk: Int => TraceEvent): Unit = {
    val e = mk(events.length + 1)
    events += e
    BudgetExceededException.check("maxTraceEvents", maxEvents, events.length.toLong)
    bytes += e.toJson.length.toLong
    BudgetExceededException.check("maxTraceBytes", maxBytes, bytes)
  }

  /** Budget event with ok/exceeded status (reference pushBudgetTrace). */
  def pushBudget(budget: String, limit: Option[Long], actual: Long): Unit =
    push(seq => TraceBudgetEvent(seq, budget, limit, actual,
      if (BudgetExceededException.exceeds(limit, actual)) "exceeded" else "ok"))

  def result(): Vector[TraceEvent] = events.toVector
}
