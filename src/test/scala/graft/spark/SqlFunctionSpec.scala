package graft.spark

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftExtensions, TextContentExpression, VisibleTextExpression}
import graft.pipeline.{Extraction, TranscriptTurn}

/** The SQL surface: visible_text / text_content planned as native codegen
  * expressions (no UDF boxing), verified against the core library.
  */
class SqlFunctionSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    // same registration GraftExtensions performs, applied to the live session
    graft.functions.functions.register(s)
    s
  }

  test("visible_text and text_content SQL functions match the core library") {
    import spark.implicits._
    val htmls = Seq(
      "<h1>alpha</h1><p>b c</p><p>d</p>",
      "<p>x <img alt=\"pic\"> y</p>",
      "<div hidden>secret</div><p>shown</p>",
      "<table><tr><td>a</td><td>b</td></tr></table>",
      "<p>&copy; &amp; entity</p>")
    htmls.zipWithIndex.toDF("html", "id").createOrReplaceTempView("docs")
    val rows = spark.sql(
      "SELECT id, visible_text(html) AS vt, text_content(html) AS tc FROM docs")
      .collect()
    htmls.zipWithIndex.foreach { case (h, i) =>
      val row = rows.find(_.getInt(0) == i).get
      val expectedVt = graft.core.VisibleText.ofDocument(graft.core.HtmlParser.parse(h))
      val expectedTc = graft.core.Traversal.textContent(graft.core.HtmlParser.parse(h).children)
      assert(row.getString(1) == expectedVt, s"visible_text for: $h")
      assert(row.getString(2) == expectedTc, s"text_content for: $h")
    }
  }

  test("null html yields null, matching expression nullability") {
    import spark.implicits._
    Seq((null: String, 0)).toDF("html", "id").createOrReplaceTempView("nulldoc")
    val row = spark.sql("SELECT visible_text(html) FROM nulldoc").collect().head
    assert(row.isNullAt(0))
  }

  test("a guarded failure is NULL in SQL, and a budget_error in the typed path") {
    import spark.implicits._
    // deeper than DefaultBudgets.maxDepth (the PipelineSpec poison turn)
    val poison = "<span>" * 70000 + "x"
    Seq((poison, 0), ("<p></p>", 1)).toDF("html", "id").createOrReplaceTempView("poisoned")
    val rows = spark.sql("SELECT id, visible_text(html), text_content(html) FROM poisoned")
      .collect().map(r => r.getInt(0) -> (Option(r.getString(1)), Option(r.getString(2)))).toMap
    assert(rows(0) == ((None, None)), "a poisoned document is NULL, not an empty page")
    assert(rows(1) == ((Some(""), Some(""))), "an empty page is still \"\"")
    val typed = Extraction.extract(Seq(TranscriptTurn("c", 0, "user", poison, "",
      new java.sql.Timestamp(0L))).toDS()).collect().head
    assert(typed.budget_error.nonEmpty)
  }

  test("visible_text participates in whole-stage codegen") {
    // non-foldable, non-local input so the optimizer can neither constant-fold
    // the call nor collapse the scan into a LocalTableScan
    val df = spark.sql(
      "SELECT visible_text(concat('<p>word', CAST(id AS STRING), '</p>')) AS vt FROM range(4)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // "*" prefix marks WholeStageCodegen spans
    assert(df.collect().map(_.getString(0)).toSeq ==
      (0 until 4).map(i => s"word$i"))
  }

  test("GraftExtensions injects both functions") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // building injected functions directly exercises the builder lambdas
    val vt = VisibleTextExpression(org.apache.spark.sql.catalyst.expressions.Literal("<p>hi</p>"))
    assert(vt.prettyName == "visible_text")
  }

  test("Column-side functions.visible_text matches the SQL surface") {
    import spark.implicits._
    import graft.functions.functions.{visible_text, text_content}
    val df = Seq("<p>a <b>b</b></p><div hidden>x</div>").toDF("html")
    val row = df.select(visible_text($"html").as("vt"), text_content($"html").as("tc"))
      .collect().head
    assert(row.getString(0) == "a b")
    assert(row.getString(1) == "a bx")
  }
}
