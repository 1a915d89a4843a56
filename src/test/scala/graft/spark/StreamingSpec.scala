package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._

/** Structured-Streaming variant of the extraction stage: file source →
  * stateless typed extraction → sink, Trigger.AvailableNow. The reference's
  * own "streaming" is per-document byte streaming (SURVEY.md §1.2), so batch
  * parity is the requirement — this spec shows the same extraction operator
  * drops into a readStream/writeStream topology unchanged (late-data /
  * watermark handling is not required for a stateless per-row transform).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("readStream -> extract -> writeStream equals the batch result") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-stream").toString
    val in = s"$tmp/in"
    val ckpt = s"$tmp/ckpt"
    val gen = Transcripts.generate(spark, 50, seed = 11L)
    gen.toDF().write.parquet(in)

    val schema = spark.read.parquet(in).schema
    val streamIn = spark.readStream.schema(schema).parquet(in)
      .withColumn("turn_idx", col("turn_idx").cast("int"))
      .as[TranscriptTurn]
    val extracted = Extraction.extract(streamIn)

    val query = extracted.writeStream
      .format("memory")
      .queryName("graft_stream_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000L)

    val streamed = spark.table("graft_stream_out")
      .select($"conv_id", $"turn_idx", $"extracted_text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).sorted.toSeq
    val batch = Extraction.extract(spark.read.parquet(in)
        .withColumn("turn_idx", col("turn_idx").cast("int")).as[TranscriptTurn])
      .select($"conv_id", $"turn_idx", $"extracted_text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).sorted.toSeq

    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  /** Final (n_turns, digest, n_chars) per conversation from one
    * AvailableNow pass of [[StreamingDigest.updates]] over the parquet at `in`,
    * with the rows the pass's stateful operator dropped as late.
    */
  private def streamingDigestRun(in: String): (Map[String, (Long, Long, Long)], Long) = {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val name = s"graft_digest_out_${System.nanoTime()}"
    val schema = spark.read.parquet(in).schema
    val streamIn = spark.readStream.schema(schema).parquet(in)
      .withColumn("turn_idx", col("turn_idx").cast("int"))
      .withWatermark("ts", "10 minutes")
      .as[TranscriptTurn]
    val query = StreamingDigest.updates(streamIn).writeStream
      .format("memory")
      .queryName(name)
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000L)

    // streaming emits the latest running state per conversation; with one
    // AvailableNow pass that's one final row per conv
    val digests = spark.table(name)
      .groupBy(col("conv_id"))
      .agg(max(struct(col("n_turns"), col("digest"), col("n_chars"))).as("s"))
      .select(col("conv_id"), col("s.n_turns"), col("s.digest"), col("s.n_chars"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val dropped = query.recentProgress.iterator
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    (digests, dropped)
  }


  /** The batch [[ConvDigest.Agg]] over [[Extraction.extract]] of the same input. */
  private def batchDigests(in: String): Map[String, (Long, Long, Long)] = {
    import spark.implicits._
    val batchTurns = spark.read.parquet(in)
      .withColumn("turn_idx", col("turn_idx").cast("int")).as[TranscriptTurn]
    Extraction.extract(batchTurns)
      .map(e => (e.conv_id, (e.turn_idx.toLong, e.extracted_text)))
      .groupByKey(_._1).mapValues(_._2)
      .agg(new ConvDigest.Agg().toColumn.name("st"))
      .collect().map { case (c, st) => c -> (st.n_turns, st.digest, st.n_chars) }
      .toMap
  }

  test("stateful streaming digest equals the batch ConvDigest aggregation") {
    val in = s"${Files.createTempDirectory("graft-stream-digest")}/in"
    Transcripts.generate(spark, 30, seed = 7L).toDF().write.parquet(in)
    assert(streamingDigestRun(in)._1 == batchDigests(in))
  }

  test("streaming digest extracts a deeply nested turn as the batch digest does") {
    import spark.implicits._
    val in = s"${Files.createTempDirectory("graft-stream-deep")}/in"
    // 20,000 levels: below DefaultBudgets.maxDepth, far past what a
    // recursive walk could go through on a 1 MiB task-thread stack
    val deep = "<div>" * 20000 + "deep text"
    val ts = new java.sql.Timestamp(1700000000000L)
    Seq(TranscriptTurn("c1", 0, "user", "<p>hello</p>", "", ts),
        TranscriptTurn("c1", 1, "assistant", deep, "", ts),
        TranscriptTurn("c2", 0, "user", "<b>hi</b>", "", ts))
      .toDS().write.parquet(in)
    val batch = batchDigests(in)
    assert(batch("c1") == (2L,
      ConvDigest.turnHash(0L, "hello") ^ ConvDigest.turnHash(1L, "deep text"),
      "hello".length.toLong + "deep text".length.toLong))
    assert(streamingDigestRun(in)._1 == batch)
  }

  test("streaming digest drops turns at the epoch as late, and reports them") {
    import spark.implicits._
    val in = s"${Files.createTempDirectory("graft-stream-epoch")}/in"
    val epoch = new java.sql.Timestamp(0L)
    val later = new java.sql.Timestamp(1700000000000L)
    Seq(TranscriptTurn("c1", 0, "user", "<p>at the epoch</p>", "", epoch),
        TranscriptTurn("c1", 1, "assistant", "<p>also</p>", "", epoch),
        TranscriptTurn("c2", 0, "user", "<b>kept</b>", "", later))
      .toDS().write.parquet(in)
    assert(batchDigests(in).keySet == Set("c1", "c2"))
    val (streamed, dropped) = streamingDigestRun(in)
    assert(streamed.keySet == Set("c2"))
    assert(dropped == 2L)
  }
}
