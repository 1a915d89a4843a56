package graft.spark

import org.apache.spark.sql.{InjectedFunctions, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal
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

  test("visible_text of a turn deeper than the task thread's stack equals the typed text") {
    import spark.implicits._
    // inside DefaultBudgets.maxDepth, but too deep for a recursive walk on
    // the 1 MiB task stack
    val deep = "<div>" * 20000 + "deep text"
    Seq((deep, 0)).toDF("html", "id").createOrReplaceTempView("deepdoc")
    val typed = Extraction.extract(Seq(TranscriptTurn("c", 0, "user", deep, "",
      new java.sql.Timestamp(0L))).toDS()).collect().head
    assert(typed.budget_error == "" && typed.extracted_text == "deep text")
    // a local relation, and a non-foldable input that a Spark task evaluates
    val html = "concat(repeat('<div>', 20000 + CAST(id AS INT)), 'deep text')"
    for (query <- Seq("SELECT visible_text(html), text_content(html) FROM deepdoc",
                      s"SELECT visible_text($html), text_content($html) FROM range(1)")) {
      val row = spark.sql(query).collect().head
      assert(row.getString(0) == typed.extracted_text, query)
      assert(!row.isNullAt(1), s"text_content of the deep turn is not NULL: $query")
    }
    // text at every level: 40,000 lines of visible text, and one text
    // content that is not copied once per ancestor
    val lines = "repeat('<div>x', 40000 + CAST(id AS INT))"
    val row = spark.sql(s"SELECT visible_text($lines), text_content($lines) FROM range(1)")
      .collect().head
    val typedLines = Extraction.extract(Seq(TranscriptTurn("c", 0, "user", "<div>x" * 40000, "",
      new java.sql.Timestamp(0L))).toDS()).collect().head
    assert(typedLines.budget_error == "")
    assert(row.getString(0) == typedLines.extracted_text)
    assert(row.getString(0) == Seq.fill(40000)("x").mkString("\n"))
    assert(row.getString(1) == "x" * 40000)
  }

  test("registered functions reject a call with zero or two arguments") {
    for (fn <- Seq("visible_text", "text_content"); call <- Seq(s"$fn()", s"$fn('<p>a</p>', 'junk')")) {
      // raised while the query is analyzed, before anything runs
      val e = intercept[IllegalArgumentException](spark.sql(s"SELECT $call"))
      assert(e.getMessage.contains(s"$fn(html) takes exactly one argument"), call)
    }
  }

  test("GraftExtensions injects both functions") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = InjectedFunctions(ext)
    val html = Literal("<p>hi</p>")
    assert(registry.lookupFunction(FunctionIdentifier("visible_text"), Seq(html)) ==
      VisibleTextExpression(html))
    assert(registry.lookupFunction(FunctionIdentifier("text_content"), Seq(html)) ==
      TextContentExpression(html))
    for (name <- Seq("visible_text", "text_content")) {
      assert(registry.lookupFunction(FunctionIdentifier(name)).map(_.getName).contains(name))
      intercept[IllegalArgumentException](registry.lookupFunction(FunctionIdentifier(name), Nil))
      intercept[IllegalArgumentException](
        registry.lookupFunction(FunctionIdentifier(name), Seq(html, html)))
    }
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
