package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** SQL extension entry point. Enables:
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *
  * after which `SELECT visible_text(html_col)` / `text_content(html_col)`
  * work from plain SQL, planned as native codegen expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    functions.sqlFunctions.foreach(ext.injectFunction)
}
