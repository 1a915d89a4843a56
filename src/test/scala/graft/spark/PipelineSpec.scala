package graft.spark

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._

/** End-to-end pipeline correctness:
  *  - the reference's golden visible-text fixtures, run as TURNS of a
  *    transcripts table through the distributed extraction (the north rule's
  *    "per-turn text equality under stable turn ordering");
  *  - determinism: identical digest across partitionings / reruns;
  *  - resumable bucketed job: identical result after a simulated crash.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Order-independent digest of a whole extracted dataset: the XOR of
    * every row's [[Extraction.rowDigest]], computed apart from the lineage
    * fold that the specs check against it.
    */
  private def datasetDigest(extracted: Dataset[ExtractedTurn]): Long = {
    import extracted.sparkSession.implicits._
    extracted
      .map(e => Extraction.rowDigest(e.conv_id, e.turn_idx, e.extracted_text))
      .reduce(_ ^ _)
  }

  private def fixtureCases(): Seq[(Int, String, String)] = {
    val url = getClass.getResource("/visible-text/v1")
    val dir = Paths.get(url.toURI)
    Files.list(dir).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("case-"))
      .sortBy(_.getFileName.toString)
      .zipWithIndex
      .map { case (caseDir, idx) =>
        val html = new String(Files.readAllBytes(caseDir.resolve("input.html")), "UTF-8")
        val raw = new String(Files.readAllBytes(caseDir.resolve("expected.txt")), "UTF-8")
        val expected = if (raw.endsWith("\n")) raw.dropRight(1) else raw
        (idx, html, expected)
      }
  }

  test("golden fixtures as transcript turns: exact per-turn equality in stable order") {
    import spark.implicits._
    val cases = fixtureCases()
    assert(cases.size >= 100)
    val turns = cases.map { case (idx, html, _) =>
      TranscriptTurn("fixture-conv", idx, "assistant", html, "",
        new java.sql.Timestamp(1700000000000L + idx * 1000L))
    }
    val ds = spark.createDataset(turns).repartition(7) // scramble order on purpose
    val out = Extraction.extract(ds)
      .orderBy(col("conv_id"), col("turn_idx"))
      .collect()
    assert(out.length == cases.size)
    out.zip(cases).foreach { case (row, (idx, _, expected)) =>
      assert(row.turn_idx == idx)
      assert(row.budget_error == "")
      assert(row.extracted_text == expected,
        s"\nfixture case idx=$idx\n--- expected ---\n$expected\n--- actual ---\n${row.extracted_text}")
    }
  }

  test("extraction output has input-backed char spans that slice the original html") {
    import spark.implicits._
    val turns = Seq(TranscriptTurn("c1", 0, "user",
      "<p>hello <b>world</b></p>", "", new java.sql.Timestamp(0L)))
    val out = Extraction.extract(spark.createDataset(turns)).collect().head
    assert(out.extracted_text == "hello world")
    val textSpans = out.spans.filter(s => s.kind == "text" && s.start >= 0)
    assert(textSpans.nonEmpty)
    // each input-backed text token's source span must contain its value
    val html = "<p>hello <b>world</b></p>"
    textSpans.foreach { s =>
      val slice = html.substring(s.start, s.end)
      assert(slice.contains(s.value.trim),
        s"span [${s.start},${s.end}) = '$slice' does not contain token '${s.value}'")
    }
  }

  test("an element with 40 children and 40 attributes keeps order, post-order ids and spans") {
    import graft.core._
    // past 32, the conversion's vectors are built rather than wrapped
    val html = "<div " + (0 until 40).map(i => s"a$i='v$i'").mkString(" ") + ">" +
      (0 until 40).map(i => s"<i>t$i</i>").mkString + "</div>"
    def firstDiv(ns: Vector[HtmlNode]): Option[ElementNode] = ns.iterator.collect {
      case e: ElementNode => if (e.tagName == "div") Some(e) else firstDiv(e.children)
    }.flatten.nextOption()
    val div = firstDiv(HtmlParser.parse(html, ParseOptions(captureSpans = true)).children).get
    assert(div.attributes.map(a => (a.name, a.value)) == (0 until 40).map(i => (s"a$i", s"v$i")))
    val kids = div.children.map(_.asInstanceOf[ElementNode])
    val texts = kids.map(_.children.head.asInstanceOf[TextNode])
    assert(texts.map(_.value) == (0 until 40).map(i => s"t$i"))
    // post-order: each text, then its <i>; the <div> right after its last child
    for (k <- 0 until 40) {
      assert(texts(k).id == div.id - 80 + 2 * k)
      assert(kids(k).id == texts(k).id + 1)
    }
    assert(div.id == kids.last.id + 1)

    val out = Extraction.extractOne(TranscriptTurn("wide", 0, "user", html, "",
      new java.sql.Timestamp(0L)), Extraction.DefaultBudgets, VisibleTextOptions())
    val last = out.spans.filter(s => s.kind == "text" && s.source_node_id == texts.last.id)
    assert(last.map(s => (s.start, s.end)) == Seq((texts.last.span.get.start, texts.last.span.get.end)))
    assert(html.substring(last.head.start, last.head.end) == "t39")
  }

  test("determinism: digest identical across partitionings and reruns") {
    val ds = Transcripts.generate(spark, nConversations = 300, seed = 7L)
    val d1 = datasetDigest(Extraction.extract(ds.repartition(3)))
    val d2 = datasetDigest(Extraction.extract(ds.repartition(17)))
    val d3 = datasetDigest(Extraction.extract(ds.repartition(17)))
    assert(d1 == d2)
    assert(d2 == d3)
  }

  test("generator is deterministic and skewed") {
    val a = Transcripts.generate(spark, 500, seed = 42L).collect()
    val b = Transcripts.generate(spark, 500, seed = 42L).collect()
    assert(a.sortBy(t => (t.conv_id, t.turn_idx)).toSeq ==
      b.sortBy(t => (t.conv_id, t.turn_idx)).toSeq)
    val sizes = a.groupBy(_.conv_id).map(_._2.length)
    assert(sizes.max == 256, "skewed long conversation present")
    assert(sizes.min >= 2)
  }

  test("lineage rows cover all rows and XOR to the dataset digest") {
    val ds = Transcripts.generate(spark, 100, seed = 3L)
    val extracted = Extraction.extract(ds.repartition(5))
    val lineage = Extraction.lineage(extracted).collect()
    assert(lineage.map(_.n_rows).sum == extracted.count())
    val rows = extracted.collect()
    assert(lineage.map(_.n_errors).sum == rows.count(_.budget_error.nonEmpty))
    assert(lineage.map(_.n_parse_errors).sum == rows.map(_.n_parse_errors.toLong).sum)
    assert(lineage.map(_.n_chars_in).sum == rows.map(_.n_chars_in).sum)
    assert(lineage.map(_.n_chars_out).sum == rows.map(_.n_chars_out).sum)
    val global = lineage.map(_.digest).reduce(_ ^ _)
    assert(global == datasetDigest(extracted))
  }

  /** One committed pass of an ExtractJob output, read back. */
  private def readPass(out: String, pass: Int) = {
    import spark.implicits._
    spark.read.parquet(s"$out/data/pass=$pass")
      .select($"conv_id", $"turn_idx", $"role", $"extracted_text", $"spans",
        $"n_parse_errors", $"first_parse_error", $"budget_error",
        $"n_chars_in", $"n_chars_out").as[ExtractedTurn]
  }

  test("ExtractJob lineage, folded by the writer tasks, equals a read-back of every pass") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-lineage").toString
    // deeper than DefaultBudgets.maxDepth; nested spans build faster than nested divs
    val poison = TranscriptTurn("poison-conv", 0, "user", "<span>" * 70000 + "x", "",
      new java.sql.Timestamp(0L))
    (Transcripts.generate(spark, 60, seed = 11L).collect().toSeq :+ poison)
      .toDS().toDF().write.parquet(s"$tmp/in")
    for (main <- Seq(false, true)) {
      val out = s"$tmp/out-main-$main"
      val summary = ExtractJob.run(spark, ExtractJob.Args(s"$tmp/in", out, buckets = 8,
        passes = 2, mainContent = main))
      val all = Seq.newBuilder[LineageRow]
      for (pass <- 0 until 2) {
        val lineage = spark.read.parquet(s"$out/_lineage/pass=$pass").as[LineageRow].collect()
        val written = readPass(out, pass)
        val errors = written.filter($"budget_error" =!= "").count()
        assert(lineage.map(_.n_rows).sum == written.count(), s"main=$main pass=$pass rows")
        assert(lineage.map(_.n_errors).sum == errors, s"main=$main pass=$pass errors")
        assert(lineage.map(_.digest).fold(0L)(_ ^ _) == datasetDigest(written),
          s"main=$main pass=$pass digest")
        val (parseErrors, charsIn, charsOut) = written
          .agg(sum($"n_parse_errors"), sum($"n_chars_in"), sum($"n_chars_out"))
          .as[(Long, Long, Long)].head()
        assert(lineage.map(_.n_parse_errors).sum == parseErrors, s"main=$main pass=$pass parse errors")
        assert(lineage.map(_.n_chars_in).sum == charsIn, s"main=$main pass=$pass chars in")
        assert(lineage.map(_.n_chars_out).sum == charsOut, s"main=$main pass=$pass chars out")
        // one writer task per bucket of the pass at most, each with rows
        assert(lineage.map(_.partition_id).distinct.length == lineage.length)
        assert(lineage.length <= 4 && lineage.forall(_.n_rows > 0))
        all ++= lineage
      }
      // the job-done record is the sum of both passes' lineage rows
      val lin = all.result()
      val rows = lin.map(_.n_rows).sum
      assert(summary.turnsIn == rows, s"main=$main turnsIn")
      assert(summary.turnsFailed == lin.map(_.n_errors).sum && summary.turnsFailed == 1L,
        s"main=$main: the poisoned turn is counted once")
      assert(summary.turnsOk == rows - 1L, s"main=$main turnsOk")
      assert(summary.parseErrors == lin.map(_.n_parse_errors).sum, s"main=$main parseErrors")
      assert(summary.bytesIn == lin.map(_.n_chars_in).sum, s"main=$main bytesIn")
      assert(summary.bytesOut == lin.map(_.n_chars_out).sum, s"main=$main bytesOut")
    }
  }

  test("a single-pass ExtractJob run starts at most three Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val tmp = Files.createTempDirectory("graft-jobs").toString
    Transcripts.generate(spark, 40, seed = 5L).toDF().write.parquet(s"$tmp/in")
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      ExtractJob.run(spark, ExtractJob.Args(s"$tmp/in", s"$tmp/out", buckets = 8, passes = 1))
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    // extract stage's shuffle, sorted write, lineage write: no re-read of
    // the pass and no schema inference over the input
    assert(started.get > 0 && started.get <= 3, s"${started.get} Spark jobs")
  }

  test("a default 64-bucket ExtractJob run starts no process") {
    val tmp = Files.createTempDirectory("graft-exec").toString
    Transcripts.generate(spark, 300, seed = 17L).toDF().write.parquet(s"$tmp/in")
    // the stock local FileSystem without libhadoop starts a chmod process
    // per created file, .crc sidecar and directory: about 200 for this run.
    // Spark itself execs `getconf PAGESIZE` once per JVM, when the first
    // metrics heartbeat (10-20 s after the session starts) loads
    // ProcfsMetricsGetter; load it now (the session above exists), so the
    // check sees only the processes of the job, whenever that heartbeat falls
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val previous = System.getSecurityManager
    System.setSecurityManager(new SecurityManager {
      override def checkPermission(perm: java.security.Permission): Unit = ()
      override def checkPermission(perm: java.security.Permission, context: AnyRef): Unit = ()
      override def checkExec(cmd: String): Unit = started.add(cmd)
    })
    try ExtractJob.run(spark, ExtractJob.Args(s"$tmp/in", s"$tmp/out"))
    finally System.setSecurityManager(previous)
    assert(started.size == 0, s"processes: ${started.asScala.toSeq.distinct.mkString(", ")}")
    assert(spark.read.parquet(s"$tmp/out/data/pass=0").count() > 0)
  }

  test("ExtractJob reads input columns by name: extra and reordered columns change nothing") {
    val tmp = Files.createTempDirectory("graft-schema").toString
    val plain = Transcripts.generate(spark, 50, seed = 13L).toDF()
    plain.write.parquet(s"$tmp/plain")
    plain.select(col("ts"), col("text"), lit("unused").as("extra"), col("tool"),
        col("turn_idx"), col("role"), col("conv_id"))
      .write.parquet(s"$tmp/shuffled")
    for (in <- Seq("plain", "shuffled"))
      ExtractJob.run(spark, ExtractJob.Args(s"$tmp/$in", s"$tmp/out-$in", buckets = 4, passes = 1))
    val digest = datasetDigest(readPass(s"$tmp/out-plain", 0))
    assert(datasetDigest(readPass(s"$tmp/out-shuffled", 0)) == digest)
    assert(readPass(s"$tmp/out-shuffled", 0).count() == plain.count())
    assert(!spark.read.parquet(s"$tmp/out-shuffled/data").columns.contains("extra"))
  }

  test("poison rows (budget violations) become error columns, not task failures") {
    import spark.implicits._
    val deep = "<div>" * 100000 + "x"
    val turns = Seq(
      TranscriptTurn("c1", 0, "user", "<p>fine</p>", "", new java.sql.Timestamp(0L)),
      TranscriptTurn("c1", 1, "user", deep, "", new java.sql.Timestamp(0L)))
    val out = Extraction.extract(spark.createDataset(turns))
      .collect().sortBy(_.turn_idx)
    assert(out(0).budget_error == "" && out(0).extracted_text == "fine")
    assert(out(1).budget_error.startsWith("budget:"))
  }

  test("main-content mode strips boilerplate per turn and records the winner span") {
    import spark.implicits._
    val story = "the actual story body with enough characters to win the block score"
    val html = """<div class="nav"><a href="#">home</a> <a href="#">about</a></div>""" +
      s"""<article><p>$story</p></article><div class="footer">copyright someone</div>"""
    val turns = Seq(
      TranscriptTurn("c1", 0, "user", html, "", new java.sql.Timestamp(0L)),
      // no candidate block -> whole-document fallback, no mainContent span
      TranscriptTurn("c1", 1, "user", "<p>short plain turn</p>", "", new java.sql.Timestamp(0L)))
    val out = Extraction.extractMain(spark.createDataset(turns))
      .collect().sortBy(_.turn_idx)

    assert(out(0).extracted_text == story)
    val sp = out(0).spans match { case Seq(s) => s; case other => fail(s"spans=$other") }
    assert(sp.kind == "mainContent" && sp.value == "article")
    assert(html.substring(sp.start, sp.end) == s"<article><p>$story</p></article>")

    assert(out(1).extracted_text == "short plain turn")
    assert(out(1).spans.isEmpty)

    // the full job accepts the flag and its digest differs from full-page
    // extraction on the same input (boilerplate really was dropped)
    val tmp = Files.createTempDirectory("graft-mc").toString
    spark.createDataset(turns).toDF().write.parquet(s"$tmp/in")
    ExtractJob.run(spark, ExtractJob.Args(s"$tmp/in", s"$tmp/out-main",
      buckets = 4, passes = 1, mainContent = true))
    ExtractJob.run(spark, ExtractJob.Args(s"$tmp/in", s"$tmp/out-full",
      buckets = 4, passes = 1))
    def texts(dir: String) = spark.read.parquet(s"$dir/data")
      .orderBy("turn_idx").select("extracted_text").as[String].collect().toSeq
    assert(texts(s"$tmp/out-main") == Seq(story, "short plain turn"))
    assert(texts(s"$tmp/out-full").head.contains("home"))
  }

  test("bucketed job is resumable: crash after pass 0, resume completes pass 1 only") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-job").toString
    val in = s"$tmp/in"
    val out1 = s"$tmp/out-straight"
    val out2 = s"$tmp/out-resumed"
    Transcripts.generate(spark, 120, seed = 9L).toDF().write.parquet(in)

    // reference run: both passes in one go
    ExtractJob.run(spark, ExtractJob.Args(in, out1, buckets = 8, passes = 2))

    // simulated crash: run pass 0 only (passes=2 but stop via marker trick):
    // run full job, then delete pass 1 outputs + marker, then --resume
    ExtractJob.run(spark, ExtractJob.Args(in, out2, buckets = 8, passes = 2))
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) Files.list(p).iterator.asScala.foreach(rm)
      Files.deleteIfExists(p)
    }
    rm(Paths.get(s"$out2/data/pass=1"))
    rm(Paths.get(s"$out2/_progress/pass-1.done"))
    ExtractJob.run(spark, ExtractJob.Args(in, out2, buckets = 8, passes = 2, resume = true))

    def digestOf(dir: String): Long = {
      val df = spark.read.parquet(s"$dir/data")
        .select($"conv_id", $"turn_idx", $"role", $"extracted_text", $"spans",
          $"n_parse_errors", $"first_parse_error", $"budget_error",
          $"n_chars_in", $"n_chars_out").as[ExtractedTurn]
      datasetDigest(df)
    }
    assert(spark.read.parquet(s"$out1/data").count() ==
      spark.read.parquet(s"$out2/data").count())
    assert(digestOf(out1) == digestOf(out2))
  }

  test("skew salting spreads one long conversation over multiple partitions") {
    import spark.implicits._
    val turns = (0 until 2000).map(i =>
      TranscriptTurn("hot-conv", i, "user", "<p>x</p>", "", new java.sql.Timestamp(0L)))
    val df = spark.createDataset(turns).toDF()
    val salted = df.repartition(8, col("conv_id"),
      pmod(xxhash64(col("conv_id"), expr("turn_idx DIV 100")), lit(8)))
    val counts = salted.rdd.mapPartitionsWithIndex { (i, it) =>
      Iterator.single(i -> it.size)
    }.collect().filter(_._2 > 0)
    assert(counts.length > 1, s"expected >1 partition, got ${counts.toSeq}")
  }

  test("ConvDigest aggregator matches a local fold and is order-independent") {
    import spark.implicits._
    import graft.pipeline.ConvDigest
    val turns = Seq(
      ("c1", 0L, "alpha"), ("c1", 1L, "beta"), ("c1", 2L, "gamma"),
      ("c2", 0L, "delta"), ("c2", 5L, ""))
    val expected = turns.groupBy(_._1).map { case (c, ts) =>
      c -> (ts.size.toLong,
        ts.map(t => ConvDigest.turnHash(t._2, t._3)).reduce(_ ^ _),
        ts.map(_._3.length.toLong).sum)
    }
    val out = spark.createDataset(turns).repartition(5) // scramble order
      .map(t => (t._1, (t._2, t._3)))
      .groupByKey(_._1).mapValues(_._2)
      .agg(new ConvDigest.Agg().toColumn.name("st"))
      .collect().map { case (c, st) => c -> (st.n_turns, st.digest, st.n_chars) }
      .toMap
    assert(out == expected)
  }

  test("ExtractJob progress markers work with a scheme-qualified output URI") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-uri").toString
    val in = s"$tmp/in"
    Transcripts.generate(spark, 6, seed = 3L).toDF().write.parquet(in)
    // file: scheme exercises the Hadoop FileSystem marker path (the
    // java.nio implementation would have failed or mis-placed markers)
    val out = s"file:$tmp/out"
    ExtractJob.run(spark, ExtractJob.Args(in, out, buckets = 4, passes = 2))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/out/_progress/pass-0.done")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/out/_progress/pass-1.done")))
    // resume skips both completed passes (no rewrite)
    val before = spark.read.parquet(s"$tmp/out/data/pass=0").count()
    ExtractJob.run(spark, ExtractJob.Args(in, out, buckets = 4, passes = 2, resume = true))
    assert(spark.read.parquet(s"$tmp/out/data/pass=0").count() == before)
  }

  test("fatal VM errors propagate out of the extraction guard; data errors degrade") {
    val t = TranscriptTurn("c", 0, "user", "<p>x</p>", "",
      new java.sql.Timestamp(0L))
    // parse-shaped failures degrade to the error column (poison-row contract)
    val degraded = Extraction.guardedExtract(t, 8L)(throw new RuntimeException("boom"))
    assert(degraded.budget_error == "internal:RuntimeException")
    assert(degraded.extracted_text == "")
    // recursion overflow on adversarial DOM depth degrades too
    assert(Extraction.guardedExtract(t, 0L)(throw new StackOverflowError())
      .budget_error == "internal:StackOverflowError")
    // fatal VM errors must FAIL the task (Spark retries it), never masquerade
    // as an empty extraction row
    intercept[OutOfMemoryError] {
      Extraction.guardedExtract(t, 0L)(throw new OutOfMemoryError("injected"))
    }
    intercept[InternalError] {
      Extraction.guardedExtract(t, 0L)(throw new InternalError("injected"))
    }
    // a poison document still lands in the error column end-to-end: it
    // trips maxDepth
    val poison = Extraction.extractOne(
      t.copy(text = "<div>" * 100000), Extraction.DefaultBudgets,
      graft.core.VisibleTextOptions())
    assert(poison.budget_error == "budget:maxDepth", poison.budget_error)
    // a deep but legal document extracts outside any Spark task too
    val deep = Extraction.extractOne(
      t.copy(text = "<div>" * 20000 + "deep text"), Extraction.DefaultBudgets,
      graft.core.VisibleTextOptions())
    assert(deep.budget_error == "", deep.budget_error)
    assert(deep.extracted_text == "deep text")
  }

  /** Runs `body` on a thread with a 256 KiB stack: its result, or its
    * failure rethrown here.
    */
  private def onSmallStack[T](body: => T): T = {
    var result: Either[Throwable, T] = null
    val thread = new Thread(null, () => {
      result = try Right(body) catch { case t: Throwable => Left(t) }
    }, "small-stack", 256L * 1024)
    thread.start()
    thread.join()
    result.fold(throw _, identity)
  }

  private def turn(html: String): TranscriptTurn =
    TranscriptTurn("c", 0, "user", html, "", new java.sql.Timestamp(0L))

  /** One line per span: kind, value (newlines and tabs escaped), start, end
    * and source node id.
    */
  private def rendered(e: ExtractedTurn): Seq[String] = e.spans.map { s =>
    val value = s.value.replace("\n", "\\n").replace("\t", "\\t")
    s"${s.kind}|$value|${s.start}|${s.end}|${s.source_node_id}"
  }

  test("extraction spans of a noscript turn resolve against the document, at any depth") {
    val options = graft.core.VisibleTextOptions()
    // Transcripts template 7: scripting on, so the noscript text is raw and
    // has no markup to re-parse
    val template7 = Transcripts.htmlFor(7L, 0)
    // a noscript whose raw text has markup: its text re-parses as a body
    // fragment, whose node ids ("gamma" 2, " delta" 4) are looked up in the
    // document's span table, as the reference does
    val fallback = "<p>alpha beta</p><noscript><b>gamma</b> delta</noscript>" +
      "<script>var x='<p>b</p>';</script>"
    def spansOf(html: String): Seq[String] = {
      val e = onSmallStack(Extraction.extractOne(turn(html), Extraction.DefaultBudgets, options))
      assert(e.budget_error == "", e.budget_error)
      rendered(e)
    }
    val t7Text = "small theta agg query beta small join sigma"
    val t7Raw = "&lt;b&gt;dup stream batch agg vector&lt;/b&gt;"
    // the spans the recursive walks and the per-token span search gave
    for ((pad, shift) <- Seq("" -> 0, "<div>" * 3000 -> 15000)) {
      assert(spansOf(pad + template7) == Seq(
        s"text|$t7Text|${shift + 3}|${shift + 46}|3",
        s"paragraphBreak|\\n\\n|$shift|${shift + 50}|4",
        s"text|$t7Raw|${shift + 60}|${shift + 106}|5"))
      assert(spansOf(pad + fallback) == Seq(
        s"text|alpha beta|${shift + 3}|${shift + 13}|3",
        s"paragraphBreak|\\n\\n|$shift|${shift + 17}|4",
        "text|gamma|-1|-1|2",
        s"text| delta|$shift|${shift + 17}|4"))
    }
  }

  test("a turn nested to the depth budget extracts once, on a 256 KiB stack") {
    val options = graft.core.VisibleTextOptions()
    val deep = "<div>" * 65000 + "deep text"
    val typed = onSmallStack(Extraction.extractOne(turn(deep), Extraction.DefaultBudgets, options))
    assert(typed.budget_error == "", typed.budget_error)
    assert(typed.extracted_text == "deep text")
    assert(rendered(typed) == Seq("text|deep text|325000|325009|3"))
    // the guard runs its body once: the turn is parsed once
    var runs = 0
    val text = onSmallStack(Extraction.guarded {
      runs += 1
      graft.core.VisibleText.ofDocument(graft.core.HtmlParser.parse(deep,
        graft.core.ParseOptions(captureSpans = true, budgets = Some(Extraction.DefaultBudgets))))
    }(error => error))
    assert(runs == 1 && text == "deep text", text)
    val main = onSmallStack(Extraction.extractMainOne(turn(deep), Extraction.DefaultBudgets,
      graft.core.MainContentOptions()))
    assert(main.budget_error == "", main.budget_error)
    assert(main.extracted_text == "deep text" && main.spans.isEmpty)
    // one level past the budget still trips it
    val over = onSmallStack(Extraction.extractOne(turn("<div>" * 65537), Extraction.DefaultBudgets, options))
    assert(over.budget_error == "budget:maxDepth", over.budget_error)
    // a select under deep nesting takes the select patch's walk
    val select = onSmallStack(Extraction.extractOne(
      turn("<div>" * 3000 + "<select><option>a</select>"), Extraction.DefaultBudgets, options))
    assert(select.budget_error == "", select.budget_error)
    assert(select.extracted_text == "")
  }

  test("a deep turn with text at every level extracts in linear time, on a 256 KiB stack") {
    val n = 40000
    val html = "<div>x" * n
    val options = graft.core.VisibleTextOptions()
    onSmallStack(Extraction.extractOne(turn("<div>x" * 100), Extraction.DefaultBudgets, options)) // warm
    val t0 = System.nanoTime
    val e = onSmallStack(Extraction.extractOne(turn(html), Extraction.DefaultBudgets, options))
    val ms = (System.nanoTime - t0) / 1000000
    info(s"<div>x x $n: $ms ms")
    assert(e.budget_error == "", e.budget_error)
    assert(e.extracted_text == Seq.fill(n)("x").mkString("\n"))
    val texts = e.spans.filter(_.kind == "text")
    assert(texts.length == n)
    assert(texts.forall(s => html.substring(s.start, s.end) == "x"))
    // the spans the per-token span search gave, as the hash of their rendering
    assert(e.spans.length == 2 * n - 1)
    assert(rendered(e).mkString(";").hashCode == 1702472848)
    assert(ms < 2000, s"<div>x x $n extracted in $ms ms")
    // a pre-order walk of its tree: html, head, body, n divs and n texts
    val tree = onSmallStack(graft.core.HtmlParser.parse(html))
    val t1 = System.nanoTime
    val size = onSmallStack(graft.core.Traversal.iterate(tree.children).size)
    val iterateMs = (System.nanoTime - t1) / 1000000
    assert(size == 2 * n + 3)
    assert(iterateMs < 2000, s"iterate over <div>x x $n took $iterateMs ms")
  }

  test("ExtractJob.parseArgs rejects a flag without a value and non-positive buckets or passes") {
    def rejected(argv: String*): String =
      intercept[IllegalArgumentException](ExtractJob.parseArgs(argv.toArray)).getMessage
    assert(rejected("--output", "o", "--input").contains("--input"))
    assert(rejected("--input", "i", "--output", "o", "--passes", "0").contains("--passes"))
    assert(rejected("--input", "i", "--output", "o", "--buckets", "0").contains("--buckets"))
    assert(rejected("--input", "i", "--output", "o", "--buckets", "-4").contains("--buckets"))
    // --salt takes a non-negative integer: 0 and 1 mean no salt
    assert(rejected("--input", "i", "--output", "o", "--salt", "abc").contains("--salt"))
    assert(rejected("--input", "i", "--output", "o", "--salt", "-3").contains("--salt"))
    assert(ExtractJob.parseArgs(Array("--input", "i", "--output", "o", "--buckets", "16",
      "--passes", "2", "--salt", "8", "--resume", "--main-content")) ==
      ExtractJob.Args("i", "o", buckets = 16, passes = 2, resume = true, salt = 8,
        mainContent = true))
  }
}
