package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** Spark stage for the PDF leg of the main-content pipeline: a per-row,
  * shuffle-free map over an opaque `binary` payload column —
  * the same shape as [[Multimodal.decode]] and
  * [[graft.pipeline.Extraction]], so partitioning stays the caller's
  * choice and the operator composes with the bucketed/salted routing of
  * `ExtractJob` unchanged.
  *
  * Error philosophy mirrors the HTML extraction path: a hostile or corrupt
  * payload degrades to a poison row (stable error code in `error`, null
  * text) while fatal VM errors are rethrown so the task fails and retries.
  */
object PdfOps {

  final case class PdfRow(doc_id: Long, n_bytes: Long, n_pages: Long,
                          text: String, error: String)

  final case class PdfPageRow(doc_id: Long, page: Long, n_lines: Long,
                              top_y: Long, bottom_y: Long, first_line: String)

  private def guarded[T](f: => T)(onErr: String => T): T =
    try f
    catch {
      case e: PdfParseException => onErr(e.getMessage)
      case _: StackOverflowError => onErr("stack_overflow")
      case NonFatal(e) => onErr("internal:" + e.getClass.getSimpleName)
    }

  /** Full-document extraction over (doc_id: long, payload: binary). */
  def extract(df: DataFrame): Dataset[PdfRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val n = if (bytes == null) 0L else bytes.length.toLong
        guarded {
          val d = Pdf.parse(bytes)
          PdfRow(id, n, d.pages.length.toLong, d.text, null)
        }(err => PdfRow(id, n, 0L, null, err))
      }
  }

  /** Per-page layout rows (line count + top/bottom baseline y + first line
    * text) over (doc_id: long, payload: binary). Unparseable payloads
    * contribute no rows (the document-level error is [[extract]]'s job).
    */
  def pages(df: DataFrame): Dataset[PdfPageRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        guarded {
          Pdf.parse(bytes).pages.map { pg =>
            val nl = pg.lines.length.toLong
            val top = if (pg.lines.nonEmpty) math.round(pg.lines.head.y) else 0L
            val bot = if (pg.lines.nonEmpty) math.round(pg.lines.last.y) else 0L
            val first = if (pg.lines.nonEmpty) pg.lines.head.text else ""
            PdfPageRow(id, pg.index.toLong, nl, top, bot, first)
          }
        }(_ => Vector.empty[PdfPageRow])
      }
  }
}
