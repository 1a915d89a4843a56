package perfbench

import graft.pipeline.{ExtractJob, Extraction, TranscriptTurn}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.{SimpleGroupFactory => GroupFactory}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

/** Where one run keeps its generated input and the job's output. */
final case class RunPaths(input: String, output: String) {
  def data: String = s"$output/data/pass=0"
}

/** What a repetition produced, as read by one kind of check: output rows,
  * an order-independent digest of them, failed turns, and turns whose
  * non-empty input gave empty text (-1 where the check cannot tell).
  */
final case class Outcome(kind: String, turns: Long, digest: String, failed: Long, blanks: Long)

/** One workload: its generator, its size, and the call its users make,
  * `ExtractJob.run` (bucket, extract, sorted parquet write, lineage), with
  * main-content extraction or without.
  */
final class Workload(val name: String, val units: Long, sampleChars: Long, val mainContent: Boolean) {

  /** The whole table, generated in this process on all processors. */
  def generate(seed: Long): Array[TranscriptTurn] = {
    val parts = new Array[Array[TranscriptTurn]](units.toInt)
    java.util.stream.IntStream.range(0, units.toInt).parallel()
      .forEach(u => parts(u) = Gen.turns(name, seed, u.toLong).toArray)
    parts.flatten
  }

  /** The workload's first turns, for the ladder. */
  def sample(seed: Long): Array[TranscriptTurn] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[TranscriptTurn]
    var chars = 0L
    var u = 0L
    while (chars < sampleChars && u < units) {
      Gen.turns(name, seed, u).foreach { t => out += t; chars += t.text.length }
      u += 1
    }
    out.toArray
  }

  /** Writes the generated table as [[Workload.InputFiles]] parquet files of
    * consecutive units, from this process: the executors are not touched
    * before their set-up is timed. Returns the table's turns and chars.
    */
  def writeInput(turns: Array[TranscriptTurn], dir: String): (Long, Long) = {
    val rows = new GroupFactory(Workload.InputSchema)
    val per = (turns.length + Workload.InputFiles - 1) / Workload.InputFiles
    java.util.stream.IntStream.range(0, Workload.InputFiles).parallel().forEach { k =>
      val out = ExampleParquetWriter.builder(new HPath(f"$dir/part-$k%05d.parquet"))
        .withConf(new Configuration()).withType(Workload.InputSchema)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try turns.slice(k * per, (k + 1) * per).foreach { t =>
        out.write(rows.newGroup().append("conv_id", t.conv_id).append("turn_idx", t.turn_idx)
          .append("role", t.role).append("text", t.text).append("tool", t.tool)
          .append("ts", t.ts.getTime * 1000L))
      } finally out.close()
    }
    (turns.length.toLong, turns.map(_.text.length.toLong).sum)
  }

  private def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** One timed call of `ExtractJob.run`. Returns its wall seconds and a
    * quick outcome from the job's own lineage rows (O(partitions) rows with
    * counts and an XOR digest of conv_id, turn_idx and extracted_text),
    * read after the clock stops, in this process: a Spark job for so few
    * rows would cost half a second a repetition.
    */
  def rep(spark: SparkSession, p: RunPaths): (Double, Outcome) = {
    val (wall, _) = timed(ExtractJob.run(spark,
      ExtractJob.Args(input = p.input, output = p.output, mainContent = mainContent)))
    val files = Option(new java.io.File(s"${p.output}/_lineage/pass=0").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    var rows, errors, digest = 0L
    files.foreach { f =>
      val in = ParquetReader.builder(new GroupReadSupport(), new HPath(f.toURI))
        .withConf(new Configuration()).build()
      try {
        var g = in.read()
        while (g != null) {
          rows += g.getLong("n_rows", 0); errors += g.getLong("n_errors", 0); digest ^= g.getLong("digest", 0)
          g = in.read()
        }
      } finally in.close()
    }
    (wall, Outcome("lineage", rows, digest.toString, errors, -1))
  }

  /** Reads every written row once. Returns the full outcome, a digest (sum
    * of `xxhash64`) over (conv_id, turn_idx, extracted_text, spans,
    * n_parse_errors, budget_error), and the problems with the bucket
    * files' order: each must hold its rows ordered by (conv_id, turn_idx).
    * A file is never split over read partitions at these sizes, and a
    * partition reads its files one after another.
    */
  def verify(spark: SparkSession, p: RunPaths): (Outcome, Seq[String]) = {
    import spark.implicits._
    val rows = spark.read.parquet(p.data).select(
      input_file_name(), col("conv_id"), col("turn_idx"),
      xxhash64(Seq("conv_id", "turn_idx", "extracted_text", "spans", "n_parse_errors",
        "budget_error").map(col): _*),
      col("budget_error") =!= "", col("extracted_text") === "" && col("n_chars_in") > 0)
    // per partition: rows, digest, failed, blank, files, rows out of order
    val parts = rows.mapPartitions { it =>
      var file: String = null; var conv: String = null; var turn = 0
      var n, failed, blank, files, bad = 0L
      var digest = BigInt(0)
      it.foreach { r =>
        val f = r.getString(0); val c = r.getString(1); val t = r.getInt(2)
        if (f != file) files += 1
        else if (c < conv || (c == conv && t <= turn)) bad += 1
        file = f; conv = c; turn = t
        n += 1; digest += r.getLong(3)
        if (r.getBoolean(4)) failed += 1
        if (r.getBoolean(5)) blank += 1
      }
      Iterator.single((n, digest.toString, failed, blank, files, bad))
    }.collect()
    val files = parts.map(_._5).sum
    val bad = parts.map(_._6).sum
    (Outcome("output", parts.map(_._1).sum, parts.map(x => BigInt(x._2)).sum.toString,
      parts.map(_._3).sum, parts.map(_._4).sum),
      (if (files == 0) Seq("no bucket files written") else Nil) ++
        (if (bad > 0) Seq(s"$bad rows out of (conv_id, turn_idx) order in bucket files") else Nil))
  }

  /** Turns/s of the layers below the job over the input already in
    * executor memory, with a digest fold and no I/O: the typed extraction
    * (encoder, `mapPartitions`, worker hand-off) and, for plain visible
    * text, the `visible_text()` SQL expression on the task thread.
    */
  def inMemory(spark: SparkSession, p: RunPaths): Seq[(String, Double)] = {
    import spark.implicits._
    val ds = spark.read.parquet(p.input).as[TranscriptTurn].persist(StorageLevel.MEMORY_ONLY)
    val n = ds.count()
    def rate(name: String)(job: => Any): (String, Double) = {
      val runs = (1 to 3).map(_ => timed(job))
      require(runs.map(_._2).distinct.size == 1, s"$name: digest differs between runs")
      name -> n / Stats.median(runs.map(_._1))
    }
    val typed = rate("extraction.ds_turns_per_s") {
      (if (mainContent) Extraction.extractMain(ds) else Extraction.extract(ds))
        .map(e => Extraction.rowDigest(e.conv_id, e.turn_idx, e.extracted_text))
        .reduce(_ ^ _)
    }
    val sql = if (mainContent) Nil else {
      graft.functions.functions.register(spark)
      Seq(rate("functions.visible_text_turns_per_s") {
        ds.select(sum(xxhash64(col("conv_id"), col("turn_idx"),
          graft.functions.functions.visible_text(col("text"))).cast(DecimalType(38, 0)))).head().get(0)
      })
    }
    ds.unpersist(blocking = true)
    typed +: sql
  }
}

object Workload {
  /** Input files; fixed, so every executor count reads the same files. */
  val InputFiles = 16

  /** The transcript table's columns, as Spark writes them. */
  val InputSchema: MessageType = MessageTypeParser.parseMessageType(
    """message transcript_turn {
      |  optional binary conv_id (STRING);
      |  optional int32 turn_idx;
      |  optional binary role (STRING);
      |  optional binary text (STRING);
      |  optional binary tool (STRING);
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  val all: Seq[Workload] = Seq(
    new Workload("chat", 800L, 500000L, mainContent = false),
    new Workload("pages", 35L, 1500000L, mainContent = true))

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(s"unknown workload $name"))
}
