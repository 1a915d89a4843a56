package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.core.{ParseOptions, VisibleTextOptions}
import graft.pipeline.{Extraction, TranscriptTurn}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** The benchmark's main process; `perfbench/run.py` builds and starts it.
  *
  * Load model: a closed loop. One job runs at a time and the next
  * repetition starts when the last one ends. Executors are single-core JVMs,
  * one per available processor, and the scaling level is one executor,
  * reached by releasing the others. Each level runs one untimed warm-up job
  * before it is timed.
  * A run sets up once: a set-up here costs 15-35 s (cold executor JVMs),
  * and the runs of every workload must fit the time the benchmark is given.
  *
  * Modes:
  *  - `run`: one workload, `--trace 0` for the end-to-end metrics or
  *    `--trace 1` for the per-layer metrics; writes `record.json` to `--out`.
  *  - `pin`: prints the output digest of a workload at each of `--seeds`.
  *  - `check-alloc`: compares the ladder's bytes/turn with
  *    `graft.tools.AllocProbe` on that probe's own corpus.
  */
object Main {

  final case class Opts(mode: String = "run", workload: String = "", seed: Long = 1L,
                        seconds: Int = 10, trace: Boolean = false, out: String = "",
                        pinned: String = "", seeds: Seq[Long] = Nil)

  private def parse(argv: Array[String]): Opts = argv.grouped(2).foldLeft(Opts()) {
    case (o, Array("--mode", v)) => o.copy(mode = v)
    case (o, Array("--workload", v)) => o.copy(workload = v)
    case (o, Array("--seed", v)) => o.copy(seed = v.toLong)
    case (o, Array("--seconds", v)) => o.copy(seconds = v.toInt)
    case (o, Array("--trace", v)) => o.copy(trace = v == "1")
    case (o, Array("--out", v)) => o.copy(out = v)
    case (o, Array("--pinned", v)) => o.copy(pinned = v)
    case (o, Array("--seeds", v)) => o.copy(seeds = v.split(',').map(_.toLong).toSeq)
    case (_, other) => throw new IllegalArgumentException(s"bad arguments ${other.mkString(" ")}")
  }

  private val json = new ObjectMapper()

  /** Per-layer metrics, reported on every workload. A layer the workload's
    * path does not call reports 0 and is listed under `not_run`.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "tokenizer.ns_per_turn" -> "ns", "tokenizer.bytes_per_turn" -> "B", "tokenizer.tokens_per_turn" -> "count",
    "tree_builder.ns_per_turn" -> "ns", "tree_builder.bytes_per_turn" -> "B",
    "tree_builder.nodes_per_turn" -> "count", "tree_builder.parse_errors_per_turn" -> "count",
    "html_parser.ns_per_turn" -> "ns", "html_parser.bytes_per_turn" -> "B",
    "visible_text.ns_per_turn" -> "ns", "visible_text.bytes_per_turn" -> "B", "visible_text.tokens_per_turn" -> "count",
    "main_content.ns_per_turn" -> "ns", "main_content.bytes_per_turn" -> "B",
    "extraction.ns_per_turn" -> "ns", "extraction.bytes_per_turn" -> "B", "extraction.failed_turns" -> "count",
    "extraction.ds_turns_per_s" -> "turns/s", "functions.visible_text_turns_per_s" -> "turns/s",
    "job.extract_stage_s" -> "s", "job.write_stage_s" -> "s", "job.lineage_stage_s" -> "s",
    "job.shuffle_bytes_per_turn" -> "B", "job.output_bytes_per_turn" -> "B",
    "job.task_skew" -> "ratio", "job.executor_idle_share" -> "ratio", "job.task_retries" -> "count",
    "job.gc_share" -> "ratio", "job.cpu_share" -> "ratio", "job.non_core_share" -> "ratio",
    "trace.overhead_share" -> "ratio")

  private val MinReps = 2
  private val MaxReps = 200

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val code = o.mode match {
      case "run" => new Run(o).apply()
      case "pin" => pin(o)
      case "check-alloc" => checkAlloc(o)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    System.out.flush()
    System.exit(code)
  }

  private def say(line: String): Unit = println(line)

  private def pinnedDigest(o: Opts): Option[String] =
    if (o.pinned.isEmpty || !Files.exists(Paths.get(o.pinned))) None
    else Option(json.readTree(Paths.get(o.pinned).toFile).path(o.workload).get(o.seed.toString))
      .map(_.asText())

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** One benchmark run of one workload. */
  final class Run(o: Opts) {
    private val w = Workload(o.workload)
    private val out = Paths.get(o.out)
    private val paths = RunPaths(out.resolve("data/input").toString, out.resolve("data/output").toString)
    private val nproc = Runtime.getRuntime.availableProcessors
    private val levels = if (nproc > 1) Seq(nproc, 1) else Seq(1)

    /** Seconds since the run started at which each phase ended. */
    private val phases = new ObjectNode(json.getNodeFactory)
    private val run0 = System.nanoTime()
    private def phase(name: String): Unit = phases.put(name, (System.nanoTime() - run0) / 1e9)

    private var inputTurns = 0L
    private var inputChars = 0L
    private val outcomes = ArrayBuffer.empty[(String, Outcome)]
    private val problems = ArrayBuffer.empty[String]
    private val failedInReps = ArrayBuffer.empty[Long]

    private def check(what: String, oc: Outcome): Unit = {
      outcomes += what -> oc
      if (oc.turns != inputTurns) problems += s"$what: ${oc.turns} output rows for $inputTurns input turns"
    }

    /** Writes the input, starts a session at all executors and runs the
      * first, untimed job. Returns the session and its set-up seconds, which
      * exclude input generation and the correctness read.
      */
    private def setUp(): (SparkSession, Double) = {
      val (t, c) = w.writeInput(w.generate(o.seed), paths.input)
      inputTurns = t; inputChars = c
      phase("input_written")
      val t0 = System.nanoTime()
      val spark = Cluster.start(levels.head)
      val beforeJob = (System.nanoTime() - t0) / 1e9
      phase("cluster_started")
      val (wall, oc) = w.rep(spark, paths)
      check("first job", oc)
      phase("set_up")
      (spark, beforeJob + wall)
    }

    private def rep(spark: SparkSession, what: String): Double = {
      val (wall, oc) = w.rep(spark, paths)
      check(what, oc)
      failedInReps += oc.failed
      wall
    }

    private def verify(spark: SparkSession, what: String): Unit = {
      val (oc, order) = w.verify(spark, paths)
      check(what, oc)
      problems ++= order.map(p => s"$what: $p")
    }

    def apply(): Int = {
      Files.createDirectories(out)
      val metrics = new ObjectNode(json.getNodeFactory)
      val record = new ObjectNode(json.getNodeFactory)
      if (o.trace) traced(metrics, record) else untraced(metrics, record)
      deleteTree(out.resolve("data"))

      outcomes.groupBy(_._2.kind).foreach { case (kind, ocs) =>
        val distinct = ocs.map(_._2).distinct
        if (distinct.size > 1) problems += s"$kind outcomes differ between repetitions or levels: ${distinct.mkString(", ")}"
      }
      val digest = outcomes.find(_._2.kind != "lineage").map(_._2.digest).getOrElse("")
      val pinned = pinnedDigest(o)
      pinned.foreach(p => if (p != digest) problems += s"digest $digest differs from pinned $p")
      val correct = problems.isEmpty
      val attempted = inputTurns * failedInReps.size
      val failed = if (correct) failedInReps.sum else attempted

      say(f"${w.name} input: $inputTurns turns, $inputChars chars, seed ${o.seed}, $nproc processors")
      say(s"${w.name} digest: $digest (pinned: ${pinned.getOrElse("none for this seed")})")
      outcomes.find(_._2.kind != "lineage").foreach(oc =>
        say(s"${w.name} failed turns per run: ${oc._2.failed}, blank turns: ${oc._2.blanks}"))
      problems.foreach(p => say(s"CHECK FAILED: $p"))
      metrics.fieldNames().forEachRemaining { k =>
        val m = metrics.get(k)
        say(s"${w.name} $k = ${m.get("value").asDouble()} ${m.get("unit").asText()}")
      }
      record.put("workload", w.name).put("seed", o.seed).put("trace", o.trace)
        .put("processors", nproc).put("turns", inputTurns).put("chars", inputChars)
        .put("digest", digest).put("correct", correct).put("attempted", attempted).put("failed", failed)
      val probs = record.putArray("problems"); problems.foreach(p => probs.add(p))
      record.set[ObjectNode]("phases_s", phases)
      record.set[ObjectNode]("metrics", metrics)
      json.writerWithDefaultPrettyPrinter().writeValue(out.resolve("record.json").toFile, record)
      0
    }

    private def put(metrics: ObjectNode, name: String, value: Double, unit: String): Unit =
      metrics.putObject(name).put("value", value).put("unit", unit)

    private def untraced(metrics: ObjectNode, record: ObjectNode): Unit = {
      val (spark, setup) = setUp()
      val walls = scala.collection.mutable.LinkedHashMap.empty[Int, ArrayBuffer[Double]]
      val warmUps = scala.collection.mutable.LinkedHashMap.empty[Int, Double]
      try {
        levels.foreach { e =>
          if (e == 1 && levels.size > 1) { Cluster.shrinkToOne(spark); phase("shrunk") }
          // one untimed job per level: after the set-up job the executors are
          // still warming up, and after the shrink the kept one has run only
          // a share of each job
          warmUps(e) = rep(spark, s"warm-up at $e executors")
          phase(s"warmed_at_$e")
          val ws = walls.getOrElseUpdate(e, ArrayBuffer.empty)
          val deadline = System.nanoTime() + (o.seconds * 1e9 / levels.size).toLong
          while ((ws.size < MinReps || System.nanoTime() < deadline) && ws.size < MaxReps)
            ws += rep(spark, s"repetition ${ws.size + 1} at $e executors")
          phase(s"timed_at_$e")
        }
        verify(spark, "last repetition")
        phase("checked")
      } finally Cluster.stop(spark)
      phase("stopped")
      val tps = inputTurns / Stats.median(walls(levels.head).toSeq)
      val tps1 = inputTurns / Stats.median(walls(levels.last).toSeq)
      put(metrics, "turns_per_s", tps, "turns/s")
      put(metrics, "turns_per_s_1x", tps1, "turns/s")
      put(metrics, "scaling_eff_1_4", tps / tps1 / levels.head, "ratio")
      put(metrics, "setup_s", setup, "s")
      val raw = record.putObject("raw")
      walls.foreach { case (e, ws) => val a = raw.putArray(s"wall_s_at_$e"); ws.foreach(a.add(_)) }
      warmUps.foreach { case (e, wall) => raw.put(s"warm_up_wall_s_at_$e", wall) }
    }

    private def traced(metrics: ObjectNode, record: ObjectNode): Unit = {
      val spans = new Spans(s"${w.name}-${o.seed}-${System.currentTimeMillis()}")
      val t0 = System.nanoTime()
      val root = spans.add(s"run.${w.name}", -1, Spans.us(t0), Spans.us(t0))
      val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]

      // 1. the ladder, in this process, before any executor exists
      val sample = w.sample(o.seed)
      val l0 = System.nanoTime()
      val ladder = spans.add("ladder", root, Spans.us(l0), Spans.us(l0))
      val (costs, warmRounds) = Ladder.measure(Ladder.rungs(w.name), sample, Some((spans, ladder)))
      spans.setEnd(ladder, Spans.us(System.nanoTime()))
      costs.foreach { c =>
        values(s"${c.layer}.ns_per_turn") = c.selfNs
        values(s"${c.layer}.bytes_per_turn") = c.selfBytes
      }
      val counts = Ladder.counts(w.name, sample)
      values("tokenizer.tokens_per_turn") = counts.tokens
      values("tree_builder.nodes_per_turn") = counts.nodes
      values("tree_builder.parse_errors_per_turn") = counts.parseErrors
      if (!w.mainContent) values("visible_text.tokens_per_turn") = counts.visibleTokens
      values("extraction.failed_turns") = counts.failed.toDouble
      val lr = record.putObject("ladder")
      lr.put("sample_turns", sample.length).put("sample_chars", sample.map(_.text.length.toLong).sum)
        .put("warm_rounds", warmRounds)
      costs.foreach(c => lr.putObject(c.layer).put("cumulative_ns", c.ns).put("cumulative_bytes", c.bytes))

      // 2. untraced and traced repetitions, alternating, at full width
      val (spark, _) = setUp()
      val untracedWalls = ArrayBuffer.empty[Double]
      val tracedWalls = ArrayBuffer.empty[Double]
      val jobValues = ArrayBuffer.empty[Map[String, Double]]
      var runMs1 = 0.0
      try {
        val deadline = System.nanoTime() + (o.seconds * 1e9 / 2).toLong
        // pairs alternate which side runs first, so the executors' warm-up
        // does not favour either side
        while ((tracedWalls.size < MinReps || System.nanoTime() < deadline) && tracedWalls.size < MaxReps) {
          def untracedOne(): Unit = untracedWalls += rep(spark, s"untraced repetition ${untracedWalls.size + 1}")
          if (tracedWalls.size % 2 == 1) untracedOne()
          val (wall, m) = tracedRep(spark, spans, root, levels.head, s"traced repetition ${tracedWalls.size + 1}")
          tracedWalls += wall
          jobValues += m
          if (tracedWalls.size % 2 == 1) untracedOne()
        }
        verify(spark, "last traced repetition")
        w.inMemory(spark, paths).foreach { case (name, tps) => values(name) = tps }
        // 3. one traced repetition at one executor, for the task time there
        if (levels.size > 1) Cluster.shrinkToOne(spark)
        runMs1 = tracedRep(spark, spans, root, 1, "traced repetition at 1 executor")._2("job.task_run_ms")
        verify(spark, "traced repetition at 1 executor")
      } finally Cluster.stop(spark)
      jobValues.head.keys.filter(_ != "job.task_run_ms").foreach { k =>
        values(k) = Stats.median(jobValues.map(_(k)).toSeq)
      }
      val top = costs.last
      values("job.non_core_share") = 1.0 - top.ns * inputTurns / (runMs1 * 1e6)
      values("trace.overhead_share") = Stats.median(tracedWalls.toSeq) / Stats.median(untracedWalls.toSeq) - 1.0

      val notRun = record.putArray("not_run")
      PerLayer.foreach { case (k, unit) =>
        if (!values.contains(k)) notRun.add(k)
        put(metrics, k, values.getOrElse(k, 0.0), unit)
      }
      spans.setEnd(root, Spans.us(System.nanoTime()))
      spans.write(out.resolve("spans.jsonl"))
      record.put("spans", spans.size).put("ladder_top_rung", top.layer)
      val raw = record.putObject("raw")
      val ua = raw.putArray("untraced_wall_s"); untracedWalls.foreach(ua.add(_))
      val ta = raw.putArray("traced_wall_s"); tracedWalls.foreach(ta.add(_))
      raw.put("task_run_ms_at_1", runMs1)
    }

    private def tracedRep(spark: SparkSession, spans: Spans, root: Int, executors: Int,
                          what: String): (Double, Map[String, Double]) = {
      val listener = new JobTrace
      spark.sparkContext.addSparkListener(listener)
      val startMs = System.currentTimeMillis()
      val s0 = System.nanoTime()
      val wall = rep(spark, what)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      val r = listener.Rep(startMs, startMs + math.ceil(wall * 1000).toLong, inputTurns)
      val span = spans.add(s"rep.${w.name}.$executors", root, Spans.us(s0), Spans.us(s0) + (wall * 1e6).toLong)
      listener.addSpans(spans, span, r)
      (wall, listener.metrics(r, executors))
    }
  }

  /** Prints `{"<seed>": "<digest>", ...}` for a workload: the values that
    * `pinned.json` holds.
    */
  private def pin(o: Opts): Int = {
    val w = Workload(o.workload)
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = Cluster.start(nproc)
    val node = new ObjectNode(json.getNodeFactory)
    try o.seeds.foreach { seed =>
      val dir = Paths.get(o.out).resolve(s"pin-$seed")
      val p = RunPaths(dir.resolve("input").toString, dir.resolve("output").toString)
      val (turns, _) = w.writeInput(w.generate(seed), p.input)
      w.rep(spark, p)
      val (oc, order) = w.verify(spark, p)
      require(oc.turns == turns, s"seed $seed: ${oc.turns} rows for $turns turns")
      require(order.isEmpty, s"seed $seed: ${order.mkString("; ")}")
      node.put(seed.toString, oc.digest)
      deleteTree(dir)
    } finally Cluster.stop(spark)
    say(json.writeValueAsString(node))
    0
  }

  /** Ladder bytes/turn against `graft.tools.AllocProbe`, both on the probe's
    * corpus and with the probe's calls. Fails outside +-2%.
    */
  private def checkAlloc(o: Opts): Int = {
    val n = 20000
    val corpus = Array.tabulate(n)(i => TranscriptTurn(f"c$i%06d", i, "user",
      Gen.chatHtml(i.toLong * 2654435761L, i), "", new java.sql.Timestamp(0L)))
    val rungs = Ladder.parseRungs(ParseOptions()) :+ Ladder.Rung("extraction", t => {
      Extraction.extractOne(t, Extraction.DefaultBudgets, VisibleTextOptions()); ()
    })
    val (costs, _) = Ladder.measure(rungs, corpus, None)
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(graft.tools.AllocProbe.main(Array.empty))
    val Line = """^(.*?)\s+(\d+) bytes/op\s*$""".r
    val probe = buf.toString("UTF-8").linesIterator.collect { case Line(k, v) => k.trim -> v.toDouble }.toMap
    val pairs = Seq("tokenizer" -> "tokenize only (noop sink)", "tree_builder" -> "tokenize+treebuild (no convert)",
      "html_parser" -> "parse", "extraction" -> "extractOne (full)")
    val node = new ObjectNode(json.getNodeFactory)
    val ok = pairs.map { case (layer, line) =>
      val ladder = costs.find(_.layer == layer).get.bytes
      val ref = probe(line)
      val dev = ladder / ref - 1.0
      say(f"$layer%-13s ladder $ladder%9.0f B/turn   AllocProbe '$line' $ref%9.0f B/op   ${dev * 100}%+.2f%%")
      node.putObject(layer).put("ladder_bytes", ladder).put("allocprobe_bytes", ref).put("deviation", dev)
      math.abs(dev) <= 0.02
    }.forall(identity)
    node.put("within_2_percent", ok)
    Files.createDirectories(Paths.get(o.out))
    json.writerWithDefaultPrettyPrinter().writeValue(Paths.get(o.out).resolve("alloc_check.json").toFile, node)
    say(if (ok) "alloc check: ladder within 2% of AllocProbe" else "alloc check FAILED")
    if (ok) 0 else 1
  }
}
