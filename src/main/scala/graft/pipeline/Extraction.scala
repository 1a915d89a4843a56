package graft.pipeline

import graft.core._
import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset
import org.apache.spark.util.CollectionAccumulator

/** Per-turn extraction: the reference's `visibleText(parse(html))` +
  * provenance-token spans, run distributed via a typed per-row `map`.
  *
  * Design notes (scale):
  *  - extraction is embarrassingly parallel — no shuffle is introduced here;
  *    callers choose partitioning (`repartition(conv_id)` only when a
  *    downstream per-conversation stage needs co-location);
  *  - each turn is parsed once, on the caller's thread, and every walk
  *    over it keeps an explicit stack, so a turn nested as deep as
  *    `DefaultBudgets.maxDepth` needs no deeper thread stack (see
  *    [[guarded]]);
  *  - a poison document can never kill a task: budget violations and any
  *    unexpected error land in the `budget_error` column (north rule:
  *    per-row guard, reference budget semantics src/public/mod.ts:165-180);
  *  - extraction keeps no counters of its own: every count (rows, failures,
  *    parse errors, chars in/out) is a column of the per-partition
  *    [[LineageRow]], folded from the typed rows by [[lineage]] or, in a
  *    job's result stage, by [[foldLineage]].
  */
object Extraction {

  /** Defensive per-row budgets for untrusted web-scale HTML. */
  val DefaultBudgets: Budgets = Budgets(
    maxInputBytes = Some(32 * 1024 * 1024),
    maxNodes = Some(2 * 1024 * 1024),
    maxDepth = Some(65536)
  )

  /** The one failure guard of per-document work. `body` runs once, on the
    * calling thread: every walk over a document keeps an explicit stack, so
    * no document needs a deeper thread stack than a shallow one. A failure
    * becomes `failed` with its class: `budget:<budget>` for a budget trip,
    * `internal:<exception>` for parse surprises, and for a stack overflow
    * too, so that a recursion a walk still has cannot kill the task.
    * Genuinely fatal VM errors (OOM, internal JVM errors) and interrupts
    * propagate and fail the task so Spark retries it. Shared by the typed
    * extraction and the `visible_text()` / `text_content()` SQL expressions.
    */
  private[graft] def guarded[T](body: => T)(failed: String => T): T =
    try body catch {
      case e: BudgetExceededException => failed(s"budget:${e.payload.budget}")
      case e @ (scala.util.control.NonFatal(_) | _: StackOverflowError) =>
        failed(s"internal:${e.getClass.getSimpleName}")
    }

  /** Extract one turn; a [[guarded]] failure becomes an empty row with its
    * class in the `budget_error` column.
    */
  private[graft] def guardedExtract(t: TranscriptTurn, htmlLen: Long)
                                   (body: => ExtractedTurn): ExtractedTurn =
    guarded(body)(error => ExtractedTurn(t.conv_id, t.turn_idx, t.role, "", Nil,
      0, "", error, htmlLen, 0L))

  /** The guarded per-turn body both extractions share: parse `t`'s HTML
    * with spans under `budgets`, take `(text, spans)` from the tree with
    * `select`, and fill in the turn's parse-error and char counts.
    */
  private def extractTurn(t: TranscriptTurn, budgets: Budgets)
                         (select: DocumentTree => (String, Seq[TokenSpan])): ExtractedTurn = {
    val html = if (t.text == null) "" else t.text
    guardedExtract(t, html.length.toLong) {
      val tree = HtmlParser.parse(html,
        ParseOptions(captureSpans = true, budgets = Some(budgets)))
      val (text, spans) = select(tree)
      ExtractedTurn(t.conv_id, t.turn_idx, t.role, text, spans,
        tree.errors.length,
        tree.errors.headOption.map(_.parseErrorId).getOrElse(""),
        "", html.length.toLong, text.length.toLong)
    }
  }

  def extractOne(t: TranscriptTurn, budgets: Budgets,
                 options: VisibleTextOptions): ExtractedTurn =
    extractTurn(t, budgets) { tree =>
      val (text, provTokens) = VisibleText.extractWithProvenance(tree.children, options)
      // Noscript-fallback tokens carry node ids of the fragment VisibleText
      // parses; they too are resolved against the document.
      val byId = nodesById(tree.children)
      val spans = provTokens.map { tok =>
        val id = tok.sourceNodeId.getOrElse(-1)
        val node = if (id >= 0 && id < byId.length) byId(id) else null
        val sp = if (node != null && node.spanProvenance == SpanProvenance.Input) node.span else None
        TokenSpan(tok.kind, tok.value,
          if (sp.isDefined) sp.get.start else -1, if (sp.isDefined) sp.get.end else -1, id)
      }
      (text, spans)
    }

  /** The nodes of the trees `nodes`, indexed by id; null where no node has
    * the id. Ids are dense and post-order (`HtmlParser.ConvertState.nextId`):
    * the last top-level node has the highest, and an element's children have
    * lower ids than the element. So a scan down from the highest id meets
    * each element after its parent put it in the table, and puts the
    * element's children there in turn: no walk and no stack.
    */
  private def nodesById(nodes: Vector[HtmlNode]): Array[HtmlNode] = {
    val table = new Array[HtmlNode](if (nodes.isEmpty) 0 else nodes.last.id + 1)
    var i = 0
    while (i < nodes.length) { table(nodes(i).id) = nodes(i); i += 1 }
    var id = table.length - 1
    while (id >= 0) {
      table(id) match {
        case e: ElementNode =>
          var j = 0
          while (j < e.children.length) { table(e.children(j).id) = e.children(j); j += 1 }
        case _ =>
      }
      id -= 1
    }
    table
  }

  /** Extract one turn, keeping only the main-content block (north-star
    * boilerplate strip: text-density, link-density, tag/class scoring —
    * [[graft.core.MainContent]]). The `spans` column carries one
    * `mainContent` record with the winner's source char span; turns with no
    * qualifying block fall back to whole-document extraction (empty spans).
    */
  def extractMainOne(t: TranscriptTurn, budgets: Budgets,
                     options: MainContentOptions): ExtractedTurn =
    extractTurn(t, budgets) { tree =>
      MainContent.extract(tree, options) match {
        case Some(r) =>
          (r.text, r.span.map(sp =>
            TokenSpan("mainContent", r.tagName, sp.start, sp.end, r.nodeId)).toSeq)
        case None =>
          (VisibleText.ofDocument(tree, options.visibleText), Nil)
      }
    }

  /** Distributed extraction. No shuffle; preserves input partitioning. */
  def extract(ds: Dataset[TranscriptTurn]): Dataset[ExtractedTurn] = {
    import ds.sparkSession.implicits._
    ds.map(extractOne(_, DefaultBudgets, VisibleTextOptions()))
  }

  /** Distributed main-content extraction (same plumbing, boilerplate
    * stripped per turn). No shuffle; preserves input partitioning.
    */
  def extractMain(ds: Dataset[TranscriptTurn]): Dataset[ExtractedTurn] = {
    import ds.sparkSession.implicits._
    ds.map(extractMainOne(_, DefaultBudgets, MainContentOptions()))
  }

  // -------------------------------------------------------------------
  // Lineage & digests

  /** FNV-1a 64-bit over the identity of one extracted row. */
  def rowDigest(convId: String, turnIdx: Int, text: String): Long = {
    var h = 0xcbf29ce484222325L
    def mixStr(s: String): Unit = {
      var i = 0
      while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
      h ^= 0x1fL; h *= 0x100000001b3L
    }
    mixStr(convId)
    h ^= turnIdx.toLong; h *= 0x100000001b3L
    mixStr(text)
    h
  }

  /** The lineage fold of one task partition over its extracted rows: row
    * and failed-row counts, the sums of parse errors and chars, and the XOR
    * of [[rowDigest]]. XOR is order-independent, so the global XOR of all
    * partition digests is the dataset digest at any parallelism.
    * [[lineage]] and [[foldLineage]] both build their [[LineageRow]]s here.
    */
  final class LineageFold(partitionId: Int) {
    private var rows = 0L
    private var errors = 0L
    private var parseErrors = 0L
    private var charsIn = 0L
    private var charsOut = 0L
    private var digest = 0L

    def add(e: ExtractedTurn): Unit = {
      rows += 1
      if (e.budget_error.nonEmpty) errors += 1
      parseErrors += e.n_parse_errors
      charsIn += e.n_chars_in
      charsOut += e.n_chars_out
      digest ^= rowDigest(e.conv_id, e.turn_idx, e.extracted_text)
    }

    /** The partition's lineage row; none for a partition without rows. */
    def result: Option[LineageRow] =
      if (rows == 0L) None
      else Some(LineageRow(partitionId, rows, errors, parseErrors, charsIn, charsOut, Nil, digest))
  }

  /** One lineage row per task partition: partition id, files, counts and an
    * order-independent XOR digest.
    */
  def lineage(extracted: Dataset[ExtractedTurn]): Dataset[LineageRow] = {
    import extracted.sparkSession.implicits._
    extracted.mapPartitions { it =>
      val fold = new LineageFold(TaskContext.getPartitionId())
      it.foreach(fold.add)
      fold.result.iterator
    }
  }

  /** Passes extracted rows through unchanged while folding each task
    * partition's lineage row, which goes to `sink` once the task has read
    * all of its rows. Meant for the tasks of a job's result stage: Spark
    * applies a result task's accumulator updates once per partition and
    * never those of a failed attempt, so the rows in `sink` count exactly
    * what the job's successful tasks passed on.
    */
  def foldLineage(rows: Dataset[ExtractedTurn],
                  sink: CollectionAccumulator[LineageRow]): Dataset[ExtractedTurn] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      val fold = new LineageFold(TaskContext.getPartitionId())
      // `++` evaluates its argument once, when `it` is exhausted
      it.map { e => fold.add(e); e } ++ { fold.result.foreach(sink.add); Iterator.empty }
    }
  }
}
